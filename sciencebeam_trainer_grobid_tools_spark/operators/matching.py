"""The complex MatchingAnnotator (reference legacy matcher).

Port of ``core/annotation/matching_annotator.py``: a sequential choice scan
over pending line-sequences (current + next line combined via pairwise
lookahead, J6), with proximity gating between bonded matches (J7,
``PositionedSequenceSet``), conditional ``require_next`` application (W10),
``match_multiple`` re-scanning, short-needle choice-vs-tag inversion, and the
layered fuzzy-match accept filters (score threshold 0.9 by default).

Differences from the simple matcher that matter for equivalence:
- tokens are normalized with junk REMOVAL (``remove_junk`` with the adjacent
  junk predicate) before joining — matching_annotator.py:70-78;
- sequences join token strings with single spaces, no whitespace awareness —
  matching_annotator.py:81-100;
- scoring uses the UNCLAMPED ``b_gap_ratio`` (core fuzzy_match base class)
  and full-string alignment, no windowing — fuzzy_match.py:161-172,283-289.

Per-match diagnostics can be captured via ``match_detail_reporter`` — the
debug-match sink (reference S8, CsvMatchDetailReporter) — and emitted as a
side-output DataFrame by the caller.
"""

from __future__ import annotations

from itertools import zip_longest
from typing import Callable, Dict, Iterator, List, Optional, Tuple, Union

from ..kernel.doc import TokenizedDoc
from ..kernel.fuzzy import FuzzyScore, direct_fuzzy_match, remove_junk
from ..kernel.normalize import normalise_str
from .annotate import B_PREFIX, I_PREFIX, TargetAnnotation, add_tag_prefix

DEFAULT_SCORE_THRESHOLD = 0.9
DEFAULT_MAX_MATCH_GAP = 5
DEFAULT_SEQ_MIN_MATCH_COUNT = 5
DEFAULT_CHOICE_MIN_MATCH_COUNT = 1
DEFAULT_SEQ_RATIO_MIN_MATCH_COUNT = 50
DEFAULT_CHOICE_RATIO_MIN_MATCH_COUNT = 100


def normalise_and_remove_junk(s: str) -> str:
    return remove_junk(normalise_str(s))


def _normalise_value(value: Union[str, List[str]], junk: bool):
    fn = normalise_and_remove_junk if junk else normalise_str
    if isinstance(value, list):
        return [fn(v) for v in value]
    return fn(value)


class TokenSeq:
    """SequenceWrapper of the complex matcher: single-space join with
    char->token back-mapping by token-string lengths
    (matching_annotator.py:81-127); ``tokens`` are indices into ``doc``."""

    __slots__ = ("doc", "tokens", "token_strings", "joined", "position", "normalize_fn")

    def __init__(
        self,
        doc: TokenizedDoc,
        tokens: List[int],
        normalize_fn: Optional[Callable[[str], str]] = None,
        position: int = 0,
    ):
        self.doc = doc
        self.tokens = tokens
        self.normalize_fn = normalize_fn
        texts = [doc.texts[i] for i in tokens]
        self.token_strings = list(map(normalize_fn, texts)) if normalize_fn else texts
        self.joined = " ".join(self.token_strings)
        self.position = position

    def tokens_between(self, index_range: Tuple[int, int]) -> Iterator[int]:
        start, end = index_range
        i = 0
        for token, token_str in zip(self.tokens, self.token_strings):
            if i >= end:
                break
            token_end = i + len(token_str)
            if token_end > start:
                yield token
            i = token_end + 1

    def untagged_subruns(self) -> Iterator["TokenSeq"]:
        doc_tags = self.doc.tags
        tags = [doc_tags[i] for i in self.tokens]
        tagged = sum(1 for t in tags if t)
        if tagged == 0:
            yield self
            return
        if tagged == len(self.tokens):
            return
        pending: List[int] = []
        for token, tag in zip(self.tokens, tags):
            if not tag:
                pending.append(token)
            elif pending:
                yield TokenSeq(self.doc, pending, self.normalize_fn, self.position)
                pending = []
        if pending:
            yield TokenSeq(self.doc, pending, self.normalize_fn, self.position)

    def __str__(self) -> str:
        return self.joined


class PositionedSequenceSet:
    """Proximity gate between bonded matches (matching_annotator.py:167-185)."""

    def __init__(self) -> None:
        self.positions: set = set()

    def add(self, sequence: TokenSeq) -> None:
        self.positions.add(sequence.position)

    def is_close_to_any(self, sequence: TokenSeq, max_gap: int) -> bool:
        if not max_gap or not self.positions:
            return True
        max_distance = max_gap + 1
        return any(
            abs(sequence.position - other) <= max_distance for other in self.positions
        )


class SequenceMatch:
    __slots__ = ("seq1", "seq2", "index1_range", "index2_range")

    def __init__(self, seq1, seq2: TokenSeq, index1_range, index2_range):
        self.seq1 = seq1
        self.seq2 = seq2
        self.index1_range = index1_range
        self.index2_range = index2_range

    def __repr__(self) -> str:
        return "SequenceMatch(%r%s, %r%s)" % (
            str(self.seq1), self.index1_range, str(self.seq2), self.index2_range
        )


MatchFilter = Callable[..., bool]


def get_fuzzy_match_filter(
    b_score_threshold: float,
    min_match_count: int,
    total_match_threshold: float,
    ratio_min_match_count: int,
    ratio_threshold: float,
) -> MatchFilter:
    """Layered accept filter (matching_annotator.py:200-219)."""

    def check(fm: FuzzyScore, fm_next: Optional[FuzzyScore] = None, previous_match: bool = False):
        if fm.match_count() >= ratio_min_match_count and fm.ratio() >= ratio_threshold:
            return True
        return fm.b_gap_ratio() >= b_score_threshold and (
            previous_match
            or (
                fm.match_count() >= min_match_count
                and (fm_next is None or fm_next.ratio() >= ratio_threshold)
            )
            or fm.a_ratio() >= total_match_threshold
        )

    return check


def get_simple_fuzzy_match_filter(
    score_threshold: float, min_match_count: int = 1, ratio_min_match_count: int = 100
) -> MatchFilter:
    return get_fuzzy_match_filter(
        score_threshold,
        min_match_count=min_match_count,
        total_match_threshold=score_threshold,
        ratio_min_match_count=ratio_min_match_count,
        ratio_threshold=score_threshold,
    )


class MatchingAnnotatorConfig:
    def __init__(
        self,
        seq_match_filter: Optional[MatchFilter] = None,
        choice_match_filter: Optional[MatchFilter] = None,
        max_gap: int = DEFAULT_MAX_MATCH_GAP,
        use_tag_begin_prefix: bool = False,
        match_detail_reporter: Optional[Callable[[Dict], None]] = None,
    ):
        self.seq_match_filter = seq_match_filter or get_simple_fuzzy_match_filter(
            DEFAULT_SCORE_THRESHOLD,
            min_match_count=DEFAULT_SEQ_MIN_MATCH_COUNT,
            ratio_min_match_count=DEFAULT_SEQ_RATIO_MIN_MATCH_COUNT,
        )
        self.choice_match_filter = choice_match_filter or get_simple_fuzzy_match_filter(
            DEFAULT_SCORE_THRESHOLD,
            min_match_count=DEFAULT_CHOICE_MIN_MATCH_COUNT,
            ratio_min_match_count=DEFAULT_CHOICE_RATIO_MIN_MATCH_COUNT,
        )
        self.max_gap = max_gap
        self.use_tag_begin_prefix = use_tag_begin_prefix
        self.match_detail_reporter = match_detail_reporter


def _skip_whitespaces(s: str, start: int) -> int:
    while start < len(s) and s[start].isspace():
        start += 1
    return start


class TargetAnnotationMatchFinder:
    """Sequential choice scan (matching_annotator.py:314-523)."""

    def __init__(
        self,
        target_annotation: TargetAnnotation,
        value: Union[str, List[str]],
        choices: List[TokenSeq],
        config: MatchingAnnotatorConfig,
        matched_choices: Optional[PositionedSequenceSet] = None,
        is_sub_match: bool = False,
    ):
        self.target_annotation = target_annotation
        self.value = value
        self.choices = list(choices)
        self.config = config
        self.matched_choices = (
            matched_choices if matched_choices is not None else PositionedSequenceSet()
        )
        self.is_sub_match = is_sub_match
        # choices are consumed across find_next_best_matches calls (the
        # reference shares tee iterators across calls: the match_multiple
        # loop resumes scanning after the last consumed choice —
        # matching_annotator.py:336-337,701-731)
        self._cursor = 0

    def find_next_best_matches(self) -> Iterator[SequenceMatch]:
        if isinstance(self.value, list):
            all_matches: List[SequenceMatch] = []
            start = self._cursor
            max_consumed = start
            for value in self.value:
                consumed, matches = self._find_matches_for_value(value, start)
                all_matches.extend(matches)
                max_consumed = max(max_consumed, consumed)
            self._cursor = max_consumed
            # bonded multi-value targets need more than one matching value
            # (except authors) — matching_annotator.py:357-363
            if (
                not self.target_annotation.bonding
                or len(all_matches) > 1
                or self.target_annotation.name == "author"
            ):
                yield from all_matches
        else:
            self._cursor, matches = self._find_matches_for_value(self.value, self._cursor)
            yield from matches

    def _find_matches_for_value(
        self, value: str, start: int
    ) -> Tuple[int, List[SequenceMatch]]:
        """Returns (next cursor position, matches)."""
        config = self.config
        matched_choices = self.matched_choices
        found: List[SequenceMatch] = []
        start_index = 0
        s1 = str(value)
        is_last_match = False
        previous_match = False
        cursor = start
        for i in range(start, len(self.choices)):
            cursor = i + 1
            choice = self.choices[i]
            next_choice = self.choices[i + 1] if i + 1 < len(self.choices) else None
            if not matched_choices.is_close_to_any(choice, max_gap=config.max_gap):
                continue
            current_choice_str = str(choice)
            if not current_choice_str:
                return cursor, found
            if next_choice is not None:
                next_choice_str = str(next_choice)
                choice_str = current_choice_str + " " + next_choice_str
            else:
                choice_str = current_choice_str
                next_choice_str = None
            tag_to_choice_match = self.is_sub_match or (
                len(s1) - start_index < len(current_choice_str)
            )
            if not tag_to_choice_match:
                fm_combined = direct_fuzzy_match(s1, choice_str)
                fm, fm_next = fm_combined.b_split_at(len(current_choice_str))
                accept = fm.has_match() and (
                    config.seq_match_filter(fm, fm_next, previous_match=previous_match)
                    or (
                        config.seq_match_filter(fm_combined)
                        and (fm.b_start_index() or 0) < len(current_choice_str)
                    )
                )
                if accept:
                    previous_match = True
                    matched_choices.add(choice)
                    found.append(
                        SequenceMatch(value, choice, fm.a_index_range(), fm.b_index_range())
                    )
                    if fm_next.has_match():
                        matched_choices.add(choice)
                        found.append(
                            SequenceMatch(
                                value, next_choice, fm_next.a_index_range(), fm_next.b_index_range()
                            )
                        )
                        index1_end = _skip_whitespaces(s1, fm_next.a_end_index() or 0)
                    else:
                        index1_end = _skip_whitespaces(s1, fm.a_end_index() or 0)
                    if index1_end >= len(s1):
                        is_last_match = True
                    else:
                        start_index = index1_end
            else:
                s1_sub = s1[start_index:]
                fm_combined = direct_fuzzy_match(choice_str, s1_sub)
                fm, fm_next = fm_combined.a_split_at(len(current_choice_str))
                accept = fm.has_match() and (
                    config.choice_match_filter(fm, previous_match=previous_match)
                    or (
                        config.choice_match_filter(fm_combined)
                        and (fm_combined.a_start_index() or 0) < len(current_choice_str)
                    )
                )
                if accept:
                    matched_choices.add(choice)
                    found.append(
                        SequenceMatch(
                            value,
                            choice,
                            _offset_range(fm.b_index_range(), start_index),
                            fm.a_index_range(),
                        )
                    )
                    if fm_next.has_match():
                        matched_choices.add(next_choice)
                        found.append(
                            SequenceMatch(
                                value,
                                next_choice,
                                _offset_range(fm_next.b_index_range(), start_index),
                                fm_next.a_index_range(),
                            )
                        )
                    is_last_match = True
            if config.match_detail_reporter:
                config.match_detail_reporter(
                    {
                        "tag": self.target_annotation.name,
                        "match_multiple": self.target_annotation.match_multiple,
                        "start_index": start_index,
                        "choice_current": current_choice_str,
                        "choice_next": next_choice_str,
                        "accepted": bool(accept),
                        "tag_to_choice_match": tag_to_choice_match,
                        "sub_annotation": self.is_sub_match,
                    }
                )
            if is_last_match:
                break
        return cursor, found


def _offset_range(index_range, offset):
    if not offset:
        return index_range
    return (index_range[0] + offset, index_range[1] + offset)


def sorted_matches_by_position(matches: List[SequenceMatch]) -> List[SequenceMatch]:
    return sorted(matches, key=lambda m: (m.seq2.position, m.index2_range))


def _matches_position_range(matches: List[SequenceMatch]) -> Tuple[int, int]:
    positions = [m.seq2.position for m in matches]
    return min(positions), max(positions)


def distance_between_matches(
    matches1: List[SequenceMatch], matches2: List[SequenceMatch]
) -> int:
    start1, end1 = _matches_position_range(matches1)
    start2, end2 = _matches_position_range(matches2)
    return min(abs(start2 - end1), abs(start1 - end2))


class MatchingAnnotator:
    """Port of MatchingAnnotator.annotate (matching_annotator.py:644-732)."""

    def __init__(
        self,
        target_annotations: List[TargetAnnotation],
        config: Optional[MatchingAnnotatorConfig] = None,
    ):
        self.target_annotations = target_annotations
        self.config = config or MatchingAnnotatorConfig()

    def _apply_sub_annotations(
        self, target_annotation: TargetAnnotation, doc: TokenizedDoc, matching_tokens: List[int]
    ) -> None:
        """matching_annotator.py:570-606."""
        seq = TokenSeq(doc, matching_tokens, normalise_str, position=0)
        matched_choices = PositionedSequenceSet()
        for sub_annotation in target_annotation.sub_annotations:
            finder = TargetAnnotationMatchFinder(
                sub_annotation,
                _normalise_value(sub_annotation.value, junk=False),
                [seq],
                config=self.config,
                matched_choices=matched_choices,
                is_sub_match=True,
            )
            first_token = True
            for m in finder.find_next_best_matches():
                for token in m.seq2.tokens_between(m.index2_range):
                    prefix = None
                    if self.config.use_tag_begin_prefix:
                        prefix = B_PREFIX if first_token else I_PREFIX
                    doc.sub_tags[token] = add_tag_prefix(sub_annotation.name, prefix)
                    first_token = False

    def _apply_matches(
        self, target_annotation: TargetAnnotation, matches: List[SequenceMatch]
    ) -> None:
        """matching_annotator.py:609-641."""
        first_token = True
        all_matching_tokens: List[int] = []
        for m in matches:
            tags = m.seq2.doc.tags
            for token in m.seq2.tokens_between(m.index2_range):
                if not tags[token]:
                    prefix = None
                    if self.config.use_tag_begin_prefix:
                        prefix = B_PREFIX if first_token else I_PREFIX
                    tags[token] = add_tag_prefix(target_annotation.name, prefix)
                    first_token = False
                    all_matching_tokens.append(token)
            if target_annotation.sub_annotations:
                self._apply_sub_annotations(
                    target_annotation, m.seq2.doc, all_matching_tokens
                )

    def annotate(self, doc: TokenizedDoc) -> TokenizedDoc:
        pending: List[TokenSeq] = []
        for line in doc.lines:
            untagged = [i for i in line if not doc.tags[i]]
            if untagged:
                pending.append(
                    TokenSeq(doc, untagged, normalise_and_remove_junk, position=len(pending))
                )
        conditional_match: Optional[Dict] = None
        matched_choices_map: Dict[str, PositionedSequenceSet] = {}
        for target_annotation in self.target_annotations:
            value = _normalise_value(target_annotation.value, junk=True)
            untagged_pending = [
                sub for seq in pending for sub in seq.untagged_subruns()
            ]
            if target_annotation.bonding:
                matched_choices = matched_choices_map.setdefault(
                    target_annotation.name, PositionedSequenceSet()
                )
            else:
                matched_choices = PositionedSequenceSet()
            finder = TargetAnnotationMatchFinder(
                target_annotation,
                value,
                untagged_pending,
                config=self.config,
                matched_choices=matched_choices,
            )
            item_index = 0
            while item_index == 0 or target_annotation.match_multiple:
                matches = sorted_matches_by_position(list(finder.find_next_best_matches()))
                if not matches:
                    conditional_match = None
                    break
                if (
                    conditional_match
                    and distance_between_matches(matches, conditional_match["matches"]) <= 1
                ):
                    self._apply_matches(
                        conditional_match["target_annotation"],
                        conditional_match["matches"],
                    )
                if target_annotation.require_next:
                    conditional_match = {
                        "target_annotation": target_annotation,
                        "matches": matches,
                    }
                else:
                    self._apply_matches(target_annotation, matches)
                item_index += 1
        return doc


MATCH_DEBUG_COLUMNS = [
    # reference core/annotation/matching_annotator.py:252-295 (the subset the
    # engine's matcher evaluates; fm_* detail strings are debug-only there)
    "tag",
    "match_multiple",
    "start_index",
    "choice_current",
    "choice_next",
    "accepted",
    "tag_to_choice_match",
    "sub_annotation",
]


class CsvMatchDetailReporter:
    """File-backed match-detail sink (reference S8: ``--debug-match``,
    auto_annotate_utils.py:430-436).  Delimiter by extension (.tsv -> tab),
    header on first row; call :meth:`close` (or use as context manager).

    Inside a Spark task the given path is suffixed with the task's partition
    id AND attempt number (``debug.part00007_a0.csv``) so concurrent executor
    tasks never interleave into one file and a retried/speculative attempt of
    the same partition never clobbers an earlier attempt's rows — enforced
    here, not left to the caller.  Writes go through the FS seam
    (``sources/fs.py``) so the sink works against registered object-store
    backends.

    Lifecycle inside a long-lived (reused) python worker: every open reporter
    registers itself process-globally; partition iterators that drive
    matching call :func:`close_task_reporters` in a ``finally`` at end of
    task, so a worker that survives many tasks holds at most the current
    task's file descriptor (PySpark's TaskContext has no completion-listener
    hook, so end-of-iterator is the task-completion seam).  ``close`` is
    idempotent — an ``atexit`` backstop may close an already-closed reporter."""

    def __init__(self, path: str):
        import csv

        from ..sources.fs import get_filesystem

        partition_suffix = _task_partition_suffix()
        if partition_suffix:
            base, dot, ext = path.rpartition(".")
            path = (
                "%s.%s%s%s" % (base, partition_suffix, dot, ext)
                if dot
                else "%s.%s" % (path, partition_suffix)
            )
        self.path = path
        delimiter = "\t" if path.endswith(".tsv") else ","
        self._ctx = get_filesystem(path).open_write(path)
        self._handle = self._ctx.__enter__()
        self._writer = csv.DictWriter(
            self._handle, fieldnames=MATCH_DEBUG_COLUMNS, delimiter=delimiter,
            extrasaction="ignore",
        )
        self._writer.writeheader()
        self._closed = False
        _OPEN_REPORTERS.add(self)
        _ensure_atexit_backstop()

    def __call__(self, detail: dict) -> None:
        self._writer.writerow(detail)
        # a debug sink inside a long-lived python worker may never reach
        # close(); flush per row so diagnostics are readable immediately
        self._handle.flush()

    def close(self) -> None:
        if self._closed:
            return
        self._closed = True
        _OPEN_REPORTERS.discard(self)
        self._ctx.__exit__(None, None, None)

    def __enter__(self) -> "CsvMatchDetailReporter":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


# reporters opened in this process and not yet closed (worker-reuse seam)
_OPEN_REPORTERS: set = set()

_ATEXIT_REGISTERED = False


def _ensure_atexit_backstop() -> None:
    """Register ONE process-level atexit hook closing whatever reporters are
    still open — not one callback per reporter: a reused python worker
    constructs a reporter per task, and per-instance ``atexit.register``
    calls would pin every closed reporter (and its callback) for the
    worker's whole task history."""
    global _ATEXIT_REGISTERED
    if not _ATEXIT_REGISTERED:
        import atexit

        atexit.register(close_task_reporters)
        _ATEXIT_REGISTERED = True


def close_task_reporters() -> None:
    """Close every reporter opened in this python worker.  Partition-driving
    iterators (plans/auto_annotate.py kernels) call this in a ``finally`` at
    end of task: with ``spark.python.worker.reuse`` each task deserializes a
    fresh stage closure and opens a fresh reporter, so without this a
    long-lived worker accumulates one open fd per task (EMFILE risk)."""
    for reporter in list(_OPEN_REPORTERS):
        reporter.close()


_DEBUG_PART_RE = None  # compiled lazily (module import stays regex-free)


def list_debug_match_files(base_path: str) -> List[str]:
    """Attempt-deduped part files of a ``--debug-match`` sink.

    Task-side reporters write ``<base>.part%05d_a%d.<ext>`` per (partition,
    attempt); a failed or speculative attempt leaves its partial file
    alongside the winning attempt's, so a consumer globbing the sink
    directory would double-count that partition's rows.  This keeps only
    the HIGHEST attempt per partition — the attempt that ran last (a retry
    only happens after the prior attempt failed mid-task).  A bare
    ``<base>`` file (driver-side reporter, no task context) is included
    as-is.  Local paths only (the glob runs on the driver's filesystem);
    object-store sinks should list with their own client and apply the same
    max-attempt rule.
    """
    import glob as globmod
    import re

    global _DEBUG_PART_RE
    if _DEBUG_PART_RE is None:
        # {5,}: part%05d zero-pads to 5 digits but WIDENS past partition
        # 99999 — a fixed-width pattern would silently drop those files
        _DEBUG_PART_RE = re.compile(r"\.part(\d{5,})_a(\d+)(\.[^.]*)?$")
    base, dot, ext = base_path.rpartition(".")
    # glob.escape the user-supplied base (a [ or * in the path must match
    # literally); the loose part*_a* wildcard is then filtered by the regex
    pattern = (
        "%s.part*_a*%s%s" % (globmod.escape(base), dot, globmod.escape(ext))
        if dot
        else "%s.part*_a*" % globmod.escape(base_path)
    )
    best = {}  # partition id -> (attempt, path)
    for path in globmod.glob(pattern):
        m = _DEBUG_PART_RE.search(path)
        if not m:
            continue
        part, attempt = int(m.group(1)), int(m.group(2))
        if part not in best or attempt > best[part][0]:
            best[part] = (attempt, path)
    files = [p for _, p in sorted(best.values(), key=lambda t: t[1])]
    import os

    if os.path.exists(base_path):
        files.insert(0, base_path)
    return files


def read_debug_matches(base_path: str) -> "object":
    """All rows of a ``--debug-match`` sink as ONE pandas DataFrame, with
    retried/speculative attempts deduped via :func:`list_debug_match_files`
    (highest attempt per partition wins)."""
    import pandas as pd

    files = list_debug_match_files(base_path)
    if not files:
        return pd.DataFrame(columns=MATCH_DEBUG_COLUMNS)
    frames = [
        pd.read_csv(f, sep="\t" if f.endswith(".tsv") else ",") for f in files
    ]
    return pd.concat(frames, ignore_index=True)


def _task_partition_suffix() -> str:
    """``part%05d_a%d`` (partition, attempt) for the current Spark task,
    '' on the driver."""
    try:
        from pyspark import TaskContext
    except Exception:
        return ""
    ctx = TaskContext.get()
    if ctx is None:
        return ""
    return "part%05d_a%d" % (ctx.partitionId(), ctx.attemptNumber())
