"""Multimodal column plumbing: opaque binary payloads + typed metadata.

``docs_as_media`` models documents as payload binaries with a typed
metadata struct, ``media_meta`` flattens that struct (oracle-checked),
and ``extract_features`` runs an Arrow-batched ``mapInPandas`` decode
over the payloads with a stable output schema, map-only. Image/audio
decode libraries are not in this container, so the decode kernel is
STUBBED (deterministic fake features, or NotImplementedError for real
codecs); swapping in a real decoder (PIL/librosa/ffmpeg) changes only
``_decode_batch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # real decoders, absent in this container
    import PIL.Image  # noqa: F401

    HAVE_CODECS = True
except ImportError:
    HAVE_CODECS = False


def docs_as_media(docs: DataFrame) -> DataFrame:
    """Model documents as media blobs: payload binary + typed metadata.

    (Stand-in for an image/audio table — the testdata has no binary
    column, so text bytes are the payload.)
    """
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.octet_length(F.col("text")).alias("n_bytes"),
            F.col("source").alias("container"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("checksum", T.LongType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def _decode_batch(pdf: pd.DataFrame, use_real_codecs: bool = False) -> pd.DataFrame:
    """Decode kernel. The deterministic fake is the default (keeps
    schema/batch shape real for tests); the real codec path is opt-in
    and explicitly unimplemented in this container."""
    if use_real_codecs:
        if not HAVE_CODECS:
            raise ImportError("no codec libraries in this environment")
        raise NotImplementedError(
            "real image/audio decode not wired; swap this branch for "
            "PIL/librosa decode of pdf['payload']"
        )
    payload = pdf["payload"]
    n_bytes = payload.map(len).astype("int32")
    checksum = payload.map(lambda b: sum(b[:64]) if len(b) else 0).astype("int64")
    # fake 4-dim feature: byte-prefix stats, fully deterministic
    feature = payload.map(
        lambda b: [
            float(len(b)),
            float(b[0]) if len(b) else 0.0,
            float(b[-1]) if len(b) else 0.0,
            float(sum(b[:16]) % 251),
        ]
    )
    return pd.DataFrame({
        "doc_id": pdf["doc_id"],
        "n_bytes": n_bytes,
        "checksum": checksum,
        "feature": feature,
    })


def extract_features(media: DataFrame, batch_rows: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over payload binaries.

    map-only (no shuffle); batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_batch(pdf)

    return media.select("doc_id", "payload").mapInPandas(run, schema=_FEATURE_SCHEMA)


def media_meta(docs: DataFrame) -> DataFrame:
    """Flat metadata projection (oracle-checkable)."""
    m = docs_as_media(docs)
    return m.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.container").alias("container"),
        F.col("meta.mime").alias("mime"),
    )
