"""Benchmark inputs: seeded corpora generated once and cached on disk.

Documents come from the package's own generator,
``sources.corpus.generate_documents(seed, ...)``.  That generator draws a 50x
body tail for about 1% of documents; a tail document costs 10-25x a normal
one, so the binomial draw of how many tails land in a few hundred documents
would dominate the run-to-run spread between seeds.  The benchmark therefore
takes the generator's documents in index order but keeps exactly one tail
document per ``TAIL_EVERY`` documents, placed at the middle of each block.
The generator draws a tail's body as 2-5 x 50 paragraphs; successive tail
documents take the multipliers ``TAIL_MULTIPLIERS`` in turn, so two corpora
of one size hold the same tail sizes.  Everything else (normal documents'
paragraph counts, malformed markup, noise) is as drawn.

A corpus is keyed by (seed, size, hash of the generator's and this module's
source): a change to either can never silently reuse stale input.  Generation is never
part of a timed section or of set-up.
"""

from __future__ import annotations

import hashlib
import inspect
import itertools
import os
import shutil
from typing import Dict, List, Optional

TAIL_EVERY = 100
# a normal document renders at most ~21 lines; a tail one 50 x multiplier
# body lines plus 9-16 others
TAIL_MIN_LINES = 60
TAIL_MULTIPLIERS = (3, 4, 2, 5)
PARTS = 4


def generator_token() -> str:
    """Hash of the generator's source and of this module's selection."""
    import sys

    from sciencebeam_trainer_grobid_tools_spark.sources import corpus as corpus_mod

    source = inspect.getsource(corpus_mod) + inspect.getsource(sys.modules[__name__])
    return hashlib.sha1(source.encode("utf-8")).hexdigest()[:10]


def tail_multiplier(doc: Dict[str, object]) -> int:
    """0 for a normal document, else its body's 50x paragraph multiplier."""
    lines = str(doc["text"]).count("\n") + 1
    return round(lines / 50) if lines >= TAIL_MIN_LINES else 0


def stratified_documents(seed: int, n_docs: int) -> List[Dict[str, object]]:
    """``n_docs`` generator documents with exactly ``n_docs // TAIL_EVERY``
    tail documents, one in the middle of each block of ``TAIL_EVERY``."""
    from sciencebeam_trainer_grobid_tools_spark.sources.corpus import generate_documents

    n_tail = n_docs // TAIL_EVERY
    tail_at = {block * TAIL_EVERY + TAIL_EVERY // 2 for block in range(n_tail)}
    wanted = [TAIL_MULTIPLIERS[k % len(TAIL_MULTIPLIERS)] for k in range(n_tail)]
    normal: List[Dict[str, object]] = []
    tail: List[Optional[Dict[str, object]]] = [None] * n_tail
    for doc in generate_documents(seed, itertools.count()):
        multiplier = tail_multiplier(doc)
        if not multiplier:
            if len(normal) < n_docs - n_tail:
                normal.append(doc)
        else:
            for k, want in enumerate(wanted):
                if tail[k] is None and want == multiplier:
                    tail[k] = doc
                    break
        if len(normal) == n_docs - n_tail and all(tail):
            break
    normal_iter, tail_iter = iter(normal), iter(tail)
    return [next(tail_iter if i in tail_at else normal_iter) for i in range(n_docs)]


def corpus_dir(data_root: str, seed: int, n_docs: int) -> str:
    """Parquet directory holding the corpus, generated on first use.

    ``PARTS`` files of contiguous documents, so reading them in name order
    gives corpus order and a Spark scan gets several splits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(
        data_root, "corpus", "s%d_n%d_g%s" % (seed, n_docs, generator_token())
    )
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    docs = stratified_documents(seed, n_docs)
    tmp = "%s.tmp%d" % (path, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-n_docs // PARTS)
    for part in range(PARTS):
        rows = docs[part * step : (part + 1) * step]
        if rows:
            pq.write_table(
                pa.Table.from_pylist(rows),
                os.path.join(tmp, "part-%05d.parquet" % part),
            )
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def load_documents(path: str) -> List[Dict[str, object]]:
    """The corpus rows in corpus order."""
    import pyarrow.parquet as pq

    docs: List[Dict[str, object]] = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            docs.extend(pq.read_table(os.path.join(path, name)).to_pylist())
    return docs
