"""Multimodal columns: opaque binary payloads + typed metadata, with
Arrow-batched decode / feature-extraction over ``mapInPandas``.

The pattern for image/audio/video at 100 TB:
- store media as an opaque ``binary`` column next to a typed metadata
  struct (mime, n_bytes, and per-modality fields like width/height or
  sample_rate) — never as paths the executors re-fetch row-at-a-time;
- decode / resize / frame-sample inside ``mapInPandas``: Arrow moves
  each partition to Python in columnar batches, the decode library
  (PIL / torchaudio / pyav) runs vectorized per batch, and the result
  comes back as a normal DataFrame with a declared schema;
- partition by content size (``repartitionByRange`` on n_bytes) so one
  executor doesn't get all the 4K videos while another gets thumbnails.

The payload here is a deterministic text→bytes stand-in whose features
(byte length, codepoint count/sum) an SQL oracle can replicate. A real
decoder (PIL, soundfile, pyav) plugs in as the per-batch feature
function of :func:`extract_payload_features`; the Spark-side plumbing —
binary schema, metadata struct, mapInPandas batch shape, declared
result schema — stays as it is.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from builder_spark.operators.partitioning import spread


def attach_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add an opaque binary payload + metadata struct derived from text.

    Stand-in for reading real media blobs: ``payload`` is the UTF-8
    encoding of the text (deterministic, oracle-checkable), ``meta``
    carries the typed metadata a media pipeline would (mime + sizes).
    """
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "meta",
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.col(text_col)).alias("n_bytes"),
        ),
    )


def extract_payload_features(
    df: DataFrame, id_col: str = "doc_id", keep_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload.

    Yields (id, *keep_cols, n_bytes, n_cp, cp_sum) per row; the feature
    fn here is the deterministic fake (bytes → utf-8 → codepoint
    stats) standing in for a media decoder — swap ``_features`` for a
    real decode without touching the Spark plumbing. Runs as one
    ``mapInPandas`` pass: no shuffle, batch-at-a-time Python, schema
    declared up front.
    """
    keep = list(keep_cols)
    schema = (
        f"{id_col} long, "
        + ", ".join(f"{c} string" for c in keep)
        + ", n_bytes long, n_cp long, cp_sum long"
    )

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            decoded = [bytes(b).decode("utf-8") for b in payloads]
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    **{c: pdf[c].values for c in keep},
                    "n_bytes": [len(bytes(b)) for b in payloads],
                    "n_cp": [len(s) for s in decoded],
                    "cp_sum": [sum(map(ord, s)) for s in decoded],
                }
            )
            yield out

    return spread(df.select(id_col, *keep, "payload"), id_col).mapInPandas(_features, schema=schema)
