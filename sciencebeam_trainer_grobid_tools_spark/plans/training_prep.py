"""End-to-end LM training-data preparation — the composed plan a real
run executes AFTER curation decisions are made, chaining the
individually-verified operators into one artifact-producing pipeline:

    curate_corpus (plans/curation.py, ten optional stages)
      ->  host_split (leakage-safe train/validation assignment)
      ->  bpe_train_collected + bpe_vocab_table  [TRAIN split only]
      ->  bpe_encode  (one Arrow stage per split)
      ->  pack_sequences  (url-ordered GPT-style concat-and-chunk)
      ->  write_training_shards  (deterministic fixed-size shards)

This is the analogue of what ``curate_corpus`` is for the filter
stack: the single entry point a user runs to turn a raw page table
into training shards, with every leakage guard in the right place.

Leakage guards (each individually verified by its operator's tests,
composed here in the only safe order):

- the SPLIT is per-host (``host_split``): near-duplicates cluster by
  site, so a per-document split would leak validation content into
  training via shared boilerplate/templates;
- the TOKENIZER trains on the train split only: merges learned from
  validation text leak its subword statistics into the model's input
  representation (the same reason eval decontamination exists);
  validation encodes under the train-derived artifact, with unseen
  symbols mapping to ``<unk>``;
- packing is per split: windows never mix train and validation
  documents, and ``doc_spans`` keeps the boundaries inside each
  window so the trainer can mask cross-document attention.

Scale shape (the per-operator docstrings carry depth):

- curation fuses into the minimal shuffle set its enabled stages need;
- the split is a pure per-row codegen draw — zero shuffles;
- BPE training reduces the train split to a (word, count) table in ONE
  corpus shuffle; the merge loop runs driver-side over that table
  (``bpe_train_collected`` — the standard practice);
- encode is a map (one Arrow stage, no shuffle); its output is
  persisted per split because packing makes multiple passes over the
  token table (lengths, offsets, fragments) and re-running the Arrow
  encode per pass would triple the expensive stage — call
  ``TrainingPrepResult.unpersist()`` when done (a production run
  would checkpoint the encoded table to storage here instead, the
  same explicit seam ``curate_corpus(persist_intermediate=...)``
  documents);
- packing's prefix sum is the two-pass bucketed form keyed by the url
  (string order keys bucket via the LCP-stripped byte surrogate), and
  sharding is a pure function of ``seq_id`` — membership never
  depends on task layout.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Mapping, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from ..operators.bpe import (
    bpe_encode,
    bpe_train_collected,
    bpe_vocab_table,
)
from ..operators.packing import (
    pack_sequences,
    shuffle_sequences,
    write_training_shards,
)
from ..operators.urlfilter import host_split
from .curation import curate_corpus

EOD = "<eod>"

__all__ = ["EOD", "TrainingPrepResult", "prepare_training_data"]


@dataclass
class TrainingPrepResult:
    """Everything a training run consumes, plus the model artifacts.

    The ``encoded`` DataFrames (and, when shuffling, the pre-shuffle
    ``packed`` inputs) are persisted — each is re-read by several
    downstream passes; call :meth:`unpersist` when the downstream work is
    done to release those cached blocks.  ``curated`` is materialized via
    ``localCheckpoint``, whose storage is NOT released by
    ``Dataset.unpersist`` — its checkpoint blocks are reclaimed by the
    ContextCleaner once the DataFrame is garbage-collected (drop the
    result reference), or by stopping the session.
    """

    curated: DataFrame  # curated rows + the split column
    merges: List[Tuple[str, str]]  # the learned merge list (train split)
    vocab: DataFrame  # (token_id, token) incl. <unk> and <eod>
    eod_id: int
    encoded: Dict[str, DataFrame] = field(default_factory=dict)
    packed: Dict[str, DataFrame] = field(default_factory=dict)
    manifests: Dict[str, DataFrame] = field(default_factory=dict)
    _packed_persisted: List[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        # curated.unpersist() is deliberately NOT called: localCheckpoint
        # storage lives outside the cache manager (see class docstring)
        for df in self.encoded.values():
            df.unpersist()
        for df in self._packed_persisted:
            df.unpersist()


def prepare_training_data(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    curation: Optional[Mapping[str, object]] = None,
    splits: Sequence = (("train", 0.9), ("val", 0.1)),
    split_salt: str = "split",
    n_merges: int = 0,
    min_pair_count: int = 2,
    merges: Optional[Sequence[Tuple[str, str]]] = None,
    order_col: Optional[str] = None,
    pad_id: Optional[int] = None,
    drop_incomplete: bool = False,
    output_path: Optional[str] = None,
    seqs_per_shard: int = 1024,
    shard_mode: str = "error",
    persist_encoded: bool = True,
    persist_curated: bool = True,
    shuffle_salt: Optional[str] = None,
) -> TrainingPrepResult:
    """Raw page table -> per-split packed training sequences (and,
    when ``output_path`` is given, written shards + manifests).

    ``curation`` is the kwarg mapping forwarded to
    :func:`~..plans.curation.curate_corpus` (``{}`` runs just the
    non-negotiable hygiene floor — scrub + quality; ``None`` skips
    curation entirely for a pre-curated input).  The mapping owns the
    WHOLE curation config, including ``url_col``: URL-level stages
    (dedup, blocklist, robots) only run when the mapping enables them
    — a mapping without ``url_col`` must not demand a ``warc_ts``
    column the input may not have.  The function's own ``url_col``
    drives the host split and the default packing order.

    Tokenizer: pass ``merges`` to reuse a pretrained merge list, else
    ``n_merges`` are learned from the TRAIN split
    (``bpe_train_collected`` — see the module docstring for the
    in-Spark swap point).  The vocabulary artifact always gains an
    ``<eod>`` row (id = max + 1); packing appends that sentinel after
    every document so the trainer sees explicit boundaries, and
    ``doc_spans`` carries the byte-exact per-window boundaries.

    ``order_col`` (default ``url_col``) must be a unique non-null key
    per curated row — it is the deterministic total order the token
    stream concatenates in.  After URL dedup the url IS unique; a
    corpus deduped on ``canonical_hint`` keeps the surviving row's own
    url, which remains unique per row.

    ``output_path`` writes ``<path>/<split>`` shard directories
    (``shard=N/`` partitions inside each) and returns the read-back
    manifests.

    ``shuffle_salt`` re-keys each split's packed windows to their
    global ``md5(salt:split:seq_id)`` rank before sharding
    (:func:`~..operators.packing.shuffle_sequences`) so every shard is
    an unbiased global sample of the split instead of a contiguous —
    url-ordered, hence host- and crawl-time-correlated — slice of the
    stream; deterministic, so a re-run reproduces identical shards.
    """
    names = [
        p[0] for p in (splits.items() if hasattr(splits, "items") else splits)
    ]
    if not names:
        raise ValueError("splits must be non-empty")
    curated = df if curation is None else curate_corpus(
        df, id_col=id_col, text_col=text_col, **dict(curation)
    )
    curated = host_split(curated, splits, url_col=url_col, salt=split_salt)
    if persist_curated:
        # everything downstream makes SEVERAL passes over this table
        # (the BPE word-count pass, then a per-split encode, then
        # packing's length/offset/fragment passes) — and, just as
        # important, the lineage must be CUT here, not merely cached:
        # each downstream branch's analyzed plan would otherwise embed
        # its own full copy of the fused curation expression tree, and
        # with a ten-stage curation config the union of split branches
        # and packing passes compounds into tens of MB of expression
        # tree — enough to break whole-stage codegen's 64 KB method
        # limit and exhaust a default-sized (1 GiB) driver heap before
        # a single row moves.  localCheckpoint(eager=False) replaces
        # the plan with a materialized-RDD leaf at first action and
        # stores the rows MEMORY_AND_DISK on the executors.  Caveat
        # (documented Spark semantics): localCheckpoint storage is not
        # fault-tolerant to executor loss — a production run at corpus
        # scale should instead write the curated table to storage and
        # read it back (the same explicit seam
        # curate_corpus(persist_intermediate=...) documents), then call
        # this with persist_curated=False.
        curated = curated.localCheckpoint(eager=False)

    train = curated.filter(F.col("split") == names[0])
    learned = list(merges) if merges is not None else bpe_train_collected(
        train, n_merges, text_col=text_col, min_pair_count=min_pair_count
    )
    # vocabulary from the TRAIN split (id 0 = <unk>, then its alphabet,
    # then the merges), plus the <eod> sentinel packing appends
    vocab = bpe_vocab_table(train, learned, text_col=text_col)
    eod_id = vocab.agg(F.max("token_id")).first()[0]
    eod_id = (eod_id if eod_id is not None else 0) + 1
    vocab = vocab.unionByName(
        df.sparkSession.createDataFrame(
            [(eod_id, EOD)], "token_id int, token string"
        )
    )

    key = order_col or url_col
    result = TrainingPrepResult(
        curated=curated, merges=learned, vocab=vocab, eod_id=eod_id
    )
    for name in names:
        part = curated.filter(F.col("split") == name)
        enc = bpe_encode(
            part, learned, vocab, id_col=key, text_col=text_col
        )
        if persist_encoded:
            enc = enc.persist()
        result.encoded[name] = enc
        result.packed[name] = pack_sequences(
            enc,
            seq_len,
            tokens_col="token_ids",
            order_col="doc_id",  # bpe_encode aliases the key to doc_id
            eod_id=eod_id,
            pad_id=pad_id,
            drop_incomplete=drop_incomplete,
        )
        if shuffle_salt is not None:
            # re-key windows to their global md5 rank so shards sample
            # the whole split instead of a contiguous (url-ordered,
            # hence host/time-correlated) slice of the stream; the
            # per-split salt keeps train/val permutations independent.
            # shuffle_sequences evaluates its input twice (count pass +
            # payload pass), so persist the expensive multi-pass pack
            # plan first — released by TrainingPrepResult.unpersist()
            packed_cached = result.packed[name].persist()
            result._packed_persisted.append(packed_cached)
            result.packed[name] = shuffle_sequences(
                packed_cached, salt="%s:%s" % (shuffle_salt, name)
            )
        if output_path is not None:
            result.manifests[name] = write_training_shards(
                result.packed[name],
                "%s/%s" % (output_path.rstrip("/"), name),
                seqs_per_shard=seqs_per_shard,
                mode=shard_mode,
            )
    return result
