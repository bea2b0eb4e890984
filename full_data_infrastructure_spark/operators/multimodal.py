"""Multimodal columns (north-star extension): opaque ``binary`` payloads with
typed metadata, decoded/feature-extracted through Arrow-batched pandas UDFs.

The container has no image/audio libraries, so every media stage runs a
deterministic fake (``fake_decode``, ``fake_resize``, frame byte slices,
``fake_feature_extract``) that computes byte-level features — but
everything Spark-side is real and tested: binary column handling, metadata
struct schema, the ``mapInPandas`` batch shape, and partition-parallel
execution. Because the fakes are deterministic, the whole UDF path is
*oracle-checkable* against plain SQL. A deployment with Pillow, torchaudio
or a model encoder replaces the fake called inside the stage's ``run``.

Scale notes: binary payloads ride in parquet as byte arrays; decode is
embarrassingly parallel over ``mapInPandas`` with bounded Arrow batch sizes
(spark.sql.execution.arrow.maxRecordsPerBatch) so executor memory stays flat
regardless of corpus size. Feature extraction projects narrow output —
payload bytes never re-shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table

DECODED_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, first_byte int, byte_sum_mod bigint"
)

# Shared oracle fragment: expand text to its UTF-8 byte values, per code
# point, in pure SQL — so every byte-level feature oracle below is exact
# for ANY text, not just ASCII (where code points happen to equal bytes;
# an oracle that leans on that diverges from the real byte-summing UDFs
# on any non-ASCII text, as the unicode-injected parity sweep shows).
_UTF8_CASE = """
    CASE WHEN unicode(c) < 128 THEN [unicode(c)]
         WHEN unicode(c) < 2048 THEN [192 + unicode(c) // 64,
                                      128 + unicode(c) % 64]
         WHEN unicode(c) < 65536 THEN [224 + unicode(c) // 4096,
                                       128 + (unicode(c) // 64) % 64,
                                       128 + unicode(c) % 64]
         ELSE [240 + unicode(c) // 262144,
               128 + (unicode(c) // 4096) % 64,
               128 + (unicode(c) // 64) % 64,
               128 + unicode(c) % 64]
    END"""

_UTF8_BYTES_CTE = f"""
    ubytes AS (
        SELECT doc_id,
               flatten(list_transform(string_to_array(text, ''),
                                      c -> {_UTF8_CASE})) AS bl
        FROM documents
        WHERE length(text) > 0
    )"""


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in decoder: byte-level features."""
    return {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else None,
        "byte_sum_mod": sum(payload) % 997,
    }


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Model documents as multimodal rows: an opaque binary payload column +
    a typed metadata struct — the schema shape for image/audio/video."""
    payload = F.encode("text", "UTF-8")
    meta = F.struct(
        F.lit("text/plain").alias("media_type"),
        F.octet_length(payload).alias("n_bytes"),
        F.lit("utf-8").alias("encoding"),
    )
    return docs.select("doc_id", payload.alias("payload"), meta.alias("media_meta"))


def decode_media(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (Arrow batches)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_decode(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "media_type": [m["media_type"] for m in pdf["media_meta"]],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "first_byte": [f["first_byte"] for f in feats],
                    "byte_sum_mod": [f["byte_sum_mod"] for f in feats],
                }
            )
            yield out

    return df.mapInPandas(run, DECODED_SCHEMA)


@register(
    "multimodal_decode",
    f"""
    WITH {_UTF8_BYTES_CTE}
    SELECT doc_id,
           'text/plain' AS media_type,
           CAST(len(bl) AS INT) AS n_bytes,
           CAST(bl[1] AS INT) AS first_byte,
           CAST(list_sum(bl) % 997 AS BIGINT) AS byte_sum_mod
    FROM ubytes
    """,
    doc="Multimodal decode path: binary payload + metadata struct -> "
    "mapInPandas (Arrow) feature extraction with a deterministic fake "
    "decoder. The oracle recomputes the byte features in SQL over the "
    "UTF-8 byte expansion (_UTF8_BYTES_CTE), proving the UDF plumbing "
    "end-to-end for any text, multibyte included.",
    tags=("llm", "multimodal", "udf"),
)
def _multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return decode_media(attach_binary_payload(docs))


@register(
    "multimodal_join",
    """
    SELECT d.doc_id, d.lang, d.source, e.label,
           len(e.embedding) AS dim,
           d.n_chars
    FROM documents d
    JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    doc="Multimodal record assembly: text rows joined to their embedding "
    "rows (doc_id = vec_id) — the documents x embeddings 'modality join'.",
    tags=("llm", "multimodal", "join"),
)
def _multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "label",
        F.size("embedding").alias("dim"),
        "n_chars",
    )


RESIZED_SCHEMA = (
    "doc_id bigint, width int, height int, n_bytes int, thumb_sum_mod bigint"
)

FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame_bytes int, frame_sum_mod bigint"

THUMB_SIDE = 8  # thumbnails are THUMB_SIDE x THUMB_SIDE
N_FRAMES = 4  # frames sampled per payload


def fake_resize(payload: bytes) -> dict:
    """Deterministic stand-in for an image resize: the 'thumbnail' is a
    byte-stride sample of the payload sized THUMB_SIDE squared."""
    target = THUMB_SIDE * THUMB_SIDE
    stride = max(len(payload) // target, 1)
    thumb = payload[::stride][:target]
    return {"n_bytes": len(thumb), "thumb_sum_mod": sum(thumb) % 997}


def resize_media(df: DataFrame) -> DataFrame:
    """Resize/thumbnail stage as mapInPandas — the Spark-side shape for
    image preprocessing: binary in, fixed-size features out, narrow output
    schema so full payloads never leave the scan stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_resize(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "width": THUMB_SIDE,
                    "height": THUMB_SIDE,
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "thumb_sum_mod": [f["thumb_sum_mod"] for f in feats],
                }
            )

    return df.mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling as a row-EXPANDING mapInPandas (the UDTF shape for
    video): each payload yields ``N_FRAMES`` evenly-spaced 'frames' (byte
    slices in the fake decoder). Output rows >> input rows — the schema and
    batch handling are exactly what a real video frame sampler needs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_sum_mod": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                chunk = max(n // N_FRAMES, 1)
                for i in range(N_FRAMES):
                    frame = payload[i * chunk : (i + 1) * chunk]
                    if not len(frame):
                        continue
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_bytes"].append(len(frame))
                    rows["frame_sum_mod"].append(sum(frame) % 997)
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, FRAMES_SCHEMA)


@register(
    "multimodal_resize",
    f"""
    WITH {_UTF8_BYTES_CTE},
    params AS (
        SELECT doc_id, bl,
               len(bl) AS n,
               GREATEST(len(bl) // 64, 1) AS stride
        FROM ubytes
    )
    SELECT doc_id,
           8 AS width,
           8 AS height,
           CAST(LEAST(len(range(1, n + 1, stride)), 64) AS INT) AS n_bytes,
           CAST(list_sum(list_slice(list_select(bl, range(1, n + 1, stride)),
                                    1, 64)) % 997 AS BIGINT) AS thumb_sum_mod
    FROM params
    """,
    doc="Multimodal resize/thumbnail stage: mapInPandas over binary "
    "payloads producing fixed-size features (8x8 byte-stride thumbnail in "
    "the deterministic fake). Oracle recomputes the stride sample in SQL "
    "over the UTF-8 byte expansion — byte-exact for multibyte text.",
    tags=("llm", "multimodal", "udf"),
)
def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return resize_media(attach_binary_payload(docs))


@register(
    "multimodal_frame_sample",
    f"""
    WITH {_UTF8_BYTES_CTE},
    params AS (
        SELECT doc_id, bl, len(bl) AS n,
               GREATEST(len(bl) // 4, 1) AS chunk
        FROM ubytes
    ),
    frames AS (
        SELECT doc_id, i AS frame_idx,
               list_slice(bl, i * chunk + 1, (i + 1) * chunk) AS frame
        FROM params, UNNEST([0, 1, 2, 3]) AS t(i)
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(len(frame) AS INT) AS frame_bytes,
           CAST(list_sum(frame) % 997 AS BIGINT) AS frame_sum_mod
    FROM frames
    WHERE len(frame) > 0
    """,
    doc="Frame sampling (video shape): row-expanding mapInPandas — each "
    "payload emits 4 evenly-spaced frames with per-frame features. Oracle "
    "recomputes the byte slices in SQL over the UTF-8 byte expansion — "
    "byte-exact for multibyte text.",
    tags=("llm", "multimodal", "udf"),
)
def _multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return sample_frames(attach_binary_payload(docs))


EMBED_DIM = 16

EMBED_SCHEMA = "doc_id bigint, embedding array<double>"


def fake_feature_extract(payload: bytes) -> list[float]:
    """Deterministic stand-in for a neural feature extractor: L2-normalized
    byte-value histogram folded into ``EMBED_DIM`` buckets.

    The norm uses ``math.sqrt``, not ``** 0.5``: the histogram counts and
    their square-sum are exact integers, IEEE ``sqrt`` of an exact value
    is correctly rounded on every engine, and the one division after it
    is too — so the emitted doubles are BIT-identical to the oracle's
    ``x / sqrt(list_sum(...))``.  ``** 0.5`` is ``pow``, which is not
    correctly rounded, and was the one oracled query whose floats
    differed from DuckDB in the last ulp when every float column of every
    oracled query was compared exactly at every tested SF."""
    import math

    hist = [0] * EMBED_DIM
    for b in payload:
        hist[b % EMBED_DIM] += 1
    norm = math.sqrt(sum(h * h for h in hist))
    return [h / norm for h in hist] if norm else [0.0] * EMBED_DIM


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extraction stage (mapInPandas): binary payload -> fixed-size
    embedding vector. The Arrow batch shape here is exactly what a GPU
    vision/audio encoder wants (amortized per-batch model dispatch,
    bounded by arrow.maxRecordsPerBatch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "embedding": [fake_feature_extract(p) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(run, EMBED_SCHEMA)


@register(
    "multimodal_embed",
    f"""
    WITH {_UTF8_BYTES_CTE},
    hist AS (
        SELECT doc_id,
               list_transform(range(0, {EMBED_DIM}),
                              i -> CAST(len(list_filter(bl, b -> b % {EMBED_DIM} = i))
                                        AS DOUBLE)) AS h
        FROM ubytes
    ),
    normed AS (
        SELECT doc_id,
               list_transform(h, x -> x / sqrt(list_sum(list_transform(h, y -> y * y))))
                   AS e
        FROM hist
    )
    SELECT doc_id,
           CAST(i AS INT) AS dim_idx,
           e[i + 1] AS value
    FROM normed, UNNEST(range(0, {EMBED_DIM})) AS t(i)
    """,
    doc="Multimodal feature extraction: payload -> fixed-size embedding via "
    "mapInPandas (deterministic byte-histogram fake behind the encoder "
    "seam), output exploded to (doc_id, dim_idx, value) scalars for the "
    "oracle compare. Completes decode -> feature-extract -> (dedup/ANN); "
    "oracle recomputes the histogram in SQL over the UTF-8 byte "
    "expansion — byte-exact for multibyte text, and the normalized "
    "doubles are BIT-identical (integer histogram -> correctly-rounded "
    "sqrt -> one division; see fake_feature_extract).",
    tags=("llm", "multimodal", "udf", "vector"),
    exact_float_cols=("value",),
)
def _multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    emb = extract_features(attach_binary_payload(docs))
    # exploded scalar form: array cells don't value-hash across engines
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "value")
    )


@register(
    "multimodal_payload_dedup",
    """
    WITH hashed AS (
        SELECT doc_id, md5(text) AS payload_md5 FROM documents
    ),
    grouped AS (
        SELECT payload_md5,
               COUNT(*) AS n_copies,
               MIN(doc_id) AS canonical_id
        FROM hashed GROUP BY payload_md5
    )
    SELECT h.doc_id, h.payload_md5,
           CAST(g.n_copies AS BIGINT) AS n_copies,
           h.doc_id = g.canonical_id AS is_canonical
    FROM hashed h JOIN grouped g ON h.payload_md5 = g.payload_md5
    """,
    doc="Content-hash dedup over the opaque BINARY payload: md5 of the "
    "bytes, group, keep the min-id copy as canonical — byte-exact "
    "image/audio dedup, the first pass of any multimodal ingest. The "
    "16-byte digest is the only thing that shuffles; payloads stay in "
    "place. Oracle hashes the source text the payload encodes, so the "
    "binary plumbing (encode -> md5 over bytes) is verified to agree "
    "with the string path digest-for-digest.",
    tags=("llm", "multimodal", "dedup"),
)
def _multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    hashed = media.select("doc_id", F.md5("payload").alias("payload_md5"))
    grouped = hashed.groupBy("payload_md5").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_id"),
    )
    return hashed.join(grouped, "payload_md5").select(
        "doc_id",
        "payload_md5",
        "n_copies",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )
