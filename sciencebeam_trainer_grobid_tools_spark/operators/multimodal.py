"""Multimodal column plumbing: opaque binary payloads.

Image/audio/video payloads are carried as ``binary`` columns; per-payload
work runs as Arrow-batched ``mapInPandas`` over bounded batches (the same
physical shape as the HTML kernel, so the partitioning/skew story is
shared).

No codec is bundled: :func:`attach_fake_media` derives a deterministic
stand-in payload, and :func:`media_payload_digests` checks that the binary
column crosses the scan -> Arrow -> pandas transfer byte-exactly, the
contract a real decoder would plug into.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, functions as F


def attach_fake_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Derive a deterministic binary payload column (stand-in for a real
    image/audio blob ingested from WARC)."""
    return df.select(
        F.col(id_col),
        F.encode(F.md5(F.col(text_col)), "utf-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def media_payload_digests(media: DataFrame, algo: str = "sha256") -> DataFrame:
    """Oracle-portable payload check: digest every payload byte-for-byte in
    the Arrow-batched decode stage (``hashlib`` on the executor side equals
    the SQL engine's digest of the same bytes), proving the binary column
    survives the scan -> Arrow -> pandas transfer byte-exactly."""
    import pandas as pd

    def digest_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                payload: bytes = row.payload
                rows.append(
                    {
                        "doc_id": row.doc_id,
                        "media_type": row.media_type,
                        "n_bytes": len(payload),
                        "digest": hashlib.new(algo, payload).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_type", "n_bytes", "digest"]
            )

    return media.mapInPandas(
        digest_batches,
        schema="doc_id long, media_type string, n_bytes int, digest string",
    )
