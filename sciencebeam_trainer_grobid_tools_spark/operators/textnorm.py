"""Unicode normalization — the canonicalization pass web pipelines run
before hashing, deduplicating or tokenizing text (two byte-different
spellings of ``café`` must fingerprint identically; CCNet/C4-style
pipelines normalize before their dedup hashes for exactly this reason).

Spark has no built-in Unicode-normalization expression, so this is the
honest Pandas-UDF case (like BPE encoding): ONE Arrow ``mapInPandas``
stage, no shuffle, vectorized ``Series.str.normalize`` (unicodedata
underneath).  DuckDB's ``nfc_normalize`` makes the NFC form
cross-engine value-checkable — the gate's `media_payload_digests`
entry carries an `text/nfc` variant whose md5s DuckDB recomputes
independently.

Scale design (the 100 TB test): normalization is compute-only — rows
never leave their scan partitions, and the emitted ``changed`` flag
exists so a rewrite pipeline can write back ONLY the rows the
normalization actually changed (on real web corpora the vast majority
of text is already NFC; filtering on the flag turns a full-corpus
rewrite into a sparse one).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

_FORMS = ("NFC", "NFD", "NFKC", "NFKD")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
    out_col: str = "text_norm",
) -> DataFrame:
    """(id, normalized text, changed flag) — ``form`` is one of NFC /
    NFD / NFKC / NFKD.  NULL text passes through as NULL with
    ``changed`` false (never silently dropped)."""
    import pandas as pd

    if form not in _FORMS:
        raise ValueError("form must be one of %s, got %r" % (_FORMS, form))
    id_type = df.schema[id_col].dataType.simpleString()
    schema = "%s %s, %s string, changed boolean" % (id_col, id_type, out_col)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            text = pdf[text_col]
            norm = text.str.normalize(form)
            changed = norm.ne(text) & text.notna()
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: norm, "changed": changed}
            )

    return df.select(id_col, text_col).mapInPandas(run, schema)
