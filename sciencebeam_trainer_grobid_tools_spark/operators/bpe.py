"""Corpus-scale BPE tokenizer training (Sennrich, Haddow, Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units").

The corpus folds into a (word, count) table once, in Spark; the merge
iterations then run over that table.

Design:

- ``bpe_train_collected`` reduces the corpus to word counts (ONE shuffle
  over the corpus — the only time the corpus is read), collects that
  table and runs the strict-Sennrich merge loop driver-side:
  deterministic best pair (max count, lexicographic tie-break —
  retraining reproduces the model), applied left-to-right
  non-overlapping to every word.
- ``bpe_vocab_table`` materializes the vocabulary ARTIFACT the encoder
  ships with: id 0 = ``<unk>``, the corpus's seed alphabet in
  lexicographic order, then one merged symbol per merge in merge order
  — the standard BPE id layout, reproducible under retraining.
- ``bpe_encode`` emits the actual training-data payload: (doc_id,
  token_ids array<int>) under the merge list + vocabulary, one Arrow
  stage, unknown symbols mapping to ``<unk>``; the id column keeps the
  input schema's type.

The pure-python reference implementation in the tests is the
correctness oracle (the iterative construction has no closed SQL form).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

END_OF_WORD = "</w>"


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    tok = F.explode(
        F.split(F.replace(F.col(text_col), F.lit("\n"), F.lit(" ")), " ")
    ).alias("word")
    return (
        df.select(tok)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _seed_symbols() -> "F.Column":
    chars = F.split(F.col("word"), "")
    return F.concat(
        F.filter(chars, lambda c: c != ""), F.array(F.lit(END_OF_WORD))
    )


def bpe_train_collected(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> List[Tuple[str, str]]:
    """Strict-Sennrich merge loop DRIVER-side over the collected
    (word, count) table; returns the learned merge list, most-frequent
    first.  Stops early when no pair reaches ``min_pair_count``.  The corpus
    still reduces in Spark (ONE shuffle, the only corpus read), but the
    50k-merge iteration runs at dict speed with zero per-merge job
    latency.  The collect is the documented bound: the distinct-word
    table must fit in driver memory (<~10^7 rows)."""
    rows = _word_counts(df, text_col).collect()
    vocab = {
        tuple(list(r["word"]) + [END_OF_WORD]): r["n"] for r in rows
    }
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + n
        if not counts:
            break
        neg_c, a, b = min((-c, a, b) for (a, b), c in counts.items())
        if -neg_c < min_pair_count:
            break
        merges.append((a, b))
        new_vocab: dict = {}
        for syms, n in vocab.items():
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + n
        vocab = new_vocab
    return merges


UNK = "<unk>"


def _merge_word(syms: list, merge_list: list) -> list:
    """Apply every merge, in order, left-to-right non-overlapping —
    the sequential core of ``bpe_encode``."""
    for a, b in merge_list:
        i, nxt = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                nxt.append(a + b)
                i += 2
            else:
                nxt.append(syms[i])
                i += 1
        syms = nxt
    return syms


def bpe_vocab_table(
    df: DataFrame,
    merges: Sequence[Tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """The (token_id, token) vocabulary artifact for ``bpe_encode``:
    id 0 is ``<unk>``, ids 1..A the corpus's seed alphabet (distinct
    characters + the end-of-word sentinel) in lexicographic order, then
    one merged symbol per merge in merge order — deterministic, so
    retraining on the same corpus reproduces the same ids.

    The alphabet derivation is ONE corpus reduction (the word-count
    shuffle) + a distinct over single characters; the collect is
    bounded by the corpus's distinct-CHARACTER count (thousands even
    for multilingual web text — model-statistic class, same contract
    as the IVF centroid collect), never by corpus or vocabulary-word
    count."""
    alpha_rows = (
        _word_counts(df, text_col)
        .select(F.explode(_seed_symbols()).alias("token"))
        .distinct()
        .collect()
    )
    alphabet = sorted(r["token"] for r in alpha_rows)
    # Distinct merges can collide on surface form (('a','bc') and
    # ('ab','c') both yield 'abc'); keep the FIRST occurrence so every
    # token appears exactly once and encode's tok2id round-trips with
    # this artifact.
    ordered = [UNK] + alphabet + [a + b for a, b in merges]
    seen: set = set()
    tokens = [t for t in ordered if not (t in seen or seen.add(t))]
    rows = list(enumerate(tokens))
    return df.sparkSession.createDataFrame(
        rows, "token_id int, token string"
    )


def bpe_encode(
    df: DataFrame,
    merges: Sequence[Tuple[str, str]],
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents -> (doc_id, token_ids array<int>): the encoded
    training-data payload under the learned merges and a
    ``bpe_vocab_table`` artifact.  Symbols absent from the vocabulary
    (characters unseen at training time) map to ``<unk>`` (id 0).

    ONE Arrow ``mapInPandas`` — encode is a map, no shuffle; the merge
    list and the vocab dict ride the task closure (vocab-sized, the
    artifact built for exactly this purpose).  The id field keeps the
    INPUT id column's type."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    merge_list = [tuple(m) for m in merges]
    tok2id = {r["token"]: r["token_id"] for r in vocab.collect()}
    unk_id = tok2id.get(UNK, 0)

    def batches(it):
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                text = row.text or ""
                words = [w for w in text.replace("\n", " ").split(" ") if w]
                ids: list = []
                for w in words:
                    for s in _merge_word(list(w) + [END_OF_WORD], merge_list):
                        ids.append(tok2id.get(s, unk_id))
                out.append({"doc_id": row.doc_id, "token_ids": ids})
            yield pd.DataFrame(out, columns=["doc_id", "token_ids"])

    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(batches, "doc_id %s, token_ids array<int>" % id_type)
