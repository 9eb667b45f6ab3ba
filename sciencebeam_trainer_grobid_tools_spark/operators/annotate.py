"""Fuzzy target-annotation matcher over a tokenized document.

Reproduces the semantics of the reference's ``SimpleMatchingAnnotator``
(annotation/simple_matching_annotator.py): pending untagged line-runs with a
lookahead window, whole-document rescan on block change, per-value fuzzy
search with needle-reduction fallback and alternative spellings, multi-value
range clustering, match-prefix regex extension, BIO tagging with
sub-annotations, and extend-to-line post-processing.  Runs per document
inside an Arrow-batched ``mapInPandas`` UDF (one python call per *batch* of
documents, sequential within a document — the reference's own per-document
ordering semantics).

The reference's pending-sequence objects (SequenceWrapper, SequencesText and
PendingSequences, annotation/matching_utils.py:189-333) are one
``MatcherView`` per document, restarted each fixpoint round: normalised token
texts, a tag mask and cached untagged sub-runs per line.  A ``PendingText``
joins sub-runs; its character-to-token lookups are ``bisect`` calls on int
offset lists.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from itertools import accumulate, groupby
from operator import add
from typing import Dict, Iterator, List, Optional, Sequence, Set, Tuple, Union

from ..kernel.doc import TokenizedDoc, join_with_index_ranges
from ..kernel.fuzzy import (
    IndexRange,
    JoinedMaskedString,
    MaskedString,
    fuzzy_search_index_range_chunks,
    iter_fuzzy_search_all_index_ranges,
)
from ..kernel.normalize import (
    normalise_str,
    normalise_str_or_list,
    split_and_join_with_space,
)

B_PREFIX = "b-"
I_PREFIX = "i-"


# memo for split_tag_prefix: the distinct tag vocabulary is tiny (b-/i-
# per field) while the call count is per-token per-pass — a dict hit
# replaces two startswith calls and a slice on the hot path
_SPLIT_TAG_CACHE: "dict[str, Tuple[Optional[str], str]]" = {}


def split_tag_prefix(tag: Optional[str]) -> Tuple[Optional[str], Optional[str]]:
    if not tag:
        return None, tag
    hit = _SPLIT_TAG_CACHE.get(tag)
    if hit is None:
        if tag.startswith(B_PREFIX):
            hit = (B_PREFIX, tag[len(B_PREFIX):])
        elif tag.startswith(I_PREFIX):
            hit = (I_PREFIX, tag[len(I_PREFIX):])
        else:
            hit = (None, tag)
        if len(_SPLIT_TAG_CACHE) < 4096:
            _SPLIT_TAG_CACHE[tag] = hit
    return hit


def strip_tag_prefix(tag: Optional[str]) -> Optional[str]:
    return split_tag_prefix(tag)[1]


def add_tag_prefix(tag: Optional[str], prefix: Optional[str]) -> Optional[str]:
    if tag and prefix:
        return prefix + tag
    return tag


def to_inside_tag(tag: Optional[str]) -> Optional[str]:
    prefix, value = split_tag_prefix(tag)
    return add_tag_prefix(value, I_PREFIX) if prefix == B_PREFIX else tag


def to_begin_inside_tags(tag: Optional[str], length: int) -> List[Optional[str]]:
    if not length:
        return []
    prefix, value = split_tag_prefix(tag)
    if not prefix:
        return [tag] * length
    return [add_tag_prefix(value, B_PREFIX)] + [add_tag_prefix(value, I_PREFIX)] * (length - 1)


class TargetAnnotation:
    """A field value to locate in the document
    (core/annotation/target_annotation.py:51-67)."""

    __slots__ = ("value", "name", "match_multiple", "bonding", "require_next", "sub_annotations")

    def __init__(
        self,
        value: Union[str, List[str]],
        name: str,
        match_multiple: bool = False,
        bonding: bool = False,
        require_next: bool = False,
        sub_annotations: Optional[List["TargetAnnotation"]] = None,
    ):
        self.value = value
        self.name = name
        self.match_multiple = match_multiple
        self.bonding = bonding
        self.require_next = require_next
        self.sub_annotations = sub_annotations or []

    def __repr__(self) -> str:
        return "TargetAnnotation(%r, %r)" % (self.name, self.value)


class TagConfig:
    """Per-field matcher options (simple_matching_annotator.py:67-97)."""

    __slots__ = (
        "match_prefix_regex",
        "alternative_spellings",
        "merge_enabled",
        "extend_to_line_enabled",
        "max_chunks",
        "block_name",
    )

    def __init__(
        self,
        match_prefix_regex: Optional[str] = None,
        alternative_spellings: Optional[Dict[str, List[str]]] = None,
        merge_enabled: bool = True,
        extend_to_line_enabled: bool = True,
        max_chunks: int = 1,
        block_name: Optional[str] = None,
    ):
        self.match_prefix_regex = match_prefix_regex
        self.alternative_spellings = alternative_spellings
        self.merge_enabled = merge_enabled
        self.extend_to_line_enabled = extend_to_line_enabled
        self.max_chunks = max_chunks
        self.block_name = block_name


DEFAULT_TAG_CONFIG = TagConfig()


class MatcherConfig:
    """Matcher settings (simple_matching_annotator.py:100-143; CLI defaults
    auto_annotate_utils.py:118,186-196)."""

    __slots__ = (
        "threshold",
        "lookahead_sequence_count",
        "min_token_length",
        "exact_word_match_threshold",
        "use_begin_prefix",
        "extend_to_line_enabled",
        "use_sub_annotations",
        "preserve_sub_annotations",
        "tag_config_map",
    )

    def __init__(
        self,
        threshold: float = 0.8,
        lookahead_sequence_count: int = 200,
        min_token_length: int = 2,
        exact_word_match_threshold: int = 5,
        use_begin_prefix: bool = True,
        extend_to_line_enabled: bool = True,
        use_sub_annotations: bool = False,
        preserve_sub_annotations: bool = False,
        tag_config_map: Optional[Dict[str, TagConfig]] = None,
    ):
        self.threshold = threshold
        self.lookahead_sequence_count = lookahead_sequence_count
        self.min_token_length = min_token_length
        self.exact_word_match_threshold = exact_word_match_threshold
        self.use_begin_prefix = use_begin_prefix
        self.extend_to_line_enabled = extend_to_line_enabled
        self.use_sub_annotations = use_sub_annotations
        self.preserve_sub_annotations = preserve_sub_annotations
        self.tag_config_map = tag_config_map or {}

    def get_tag_config(self, tag_name: str) -> TagConfig:
        return self.tag_config_map.get(tag_name, DEFAULT_TAG_CONFIG)


def merge_index_ranges(index_ranges: Sequence[IndexRange]) -> IndexRange:
    return (
        min(start for start, _ in index_ranges),
        max(end for _, end in index_ranges),
    )


def select_index_ranges(
    index_ranges: List[IndexRange],
) -> Tuple[List[IndexRange], List[IndexRange]]:
    """Cluster ranges by proximity; keep the longest cluster
    (simple_matching_annotator.py:161-231)."""
    if len(index_ranges) <= 1:
        return index_ranges, []
    # a cluster is (start, end, ranges): a block of the sorted ranges, from
    # its first range's start to its last range's end
    clusters = [(r[0], r[1], [r]) for r in sorted(index_ranges)]
    while True:
        merged = [clusters[0]]
        for cluster in clusters[1:]:
            start, end, ranges = merged[-1]
            other_start, other_end, other_ranges = cluster
            gap = other_start - end if other_start >= end else start - other_end
            if gap <= max(end - start, other_end - other_start) + 10:
                merged[-1] = (start, other_end, ranges + other_ranges)
            else:
                merged.append(cluster)
        if len(merged) == len(clusters):
            break
        clusters = merged
    # the first of the longest clusters
    best = max(clusters, key=lambda c: c[1] - c[0])
    unselected = sorted(r for c in clusters if c is not best for r in c[2])
    return best[2], unselected


def get_extended_line_token_tags(
    line_token_tags: Sequence[Optional[str]],
    extend_to_line_enabled_map: Optional[Dict[str, bool]] = None,
    merge_enabled_map: Optional[Dict[str, bool]] = None,
    default_extend_to_line_enabled: bool = True,
    default_merge_enabled: bool = True,
) -> List[Optional[str]]:
    """Fill untagged token groups within a line from their neighbours
    (simple_matching_annotator.py:286-357)."""
    extend_map = extend_to_line_enabled_map or {}
    merge_map = merge_enabled_map or {}
    values = {tag: strip_tag_prefix(tag) for tag in set(line_token_tags)}
    groups: List[List[Optional[str]]] = [
        list(group) for _, group in groupby(line_token_tags, key=values.__getitem__)
    ]
    # merge b-/i- within a same-value group when enabled
    merged_groups: List[List[Optional[str]]] = []
    for group in groups:
        value = strip_tag_prefix(group[0])
        if value is not None and merge_map.get(value, default_merge_enabled):
            prefix, tag_value = split_tag_prefix(group[0])
            if prefix:
                group = group[:1] + [add_tag_prefix(tag_value, I_PREFIX)] * (len(group) - 1)
        merged_groups.append(group)
    groups = merged_groups
    result: List[Optional[str]] = []
    for index, group in enumerate(groups):
        prev_group = groups[index - 1] if index > 0 else None
        next_group = groups[index + 1] if index + 1 < len(groups) else None
        _, prev_value = split_tag_prefix(prev_group[-1] if prev_group else None)
        next_prefix, next_value = split_tag_prefix(next_group[0] if next_group else None)
        if group[0]:
            result.extend(group)
        elif prev_group and next_group:
            if prev_value == next_value and (
                merge_map.get(prev_value, default_merge_enabled) if prev_value else default_merge_enabled
            ):
                result.extend([to_inside_tag(prev_group[-1])] * len(group))
                if next_prefix == B_PREFIX:
                    next_group[0] = to_inside_tag(next_group[0])
            else:
                result.extend(group)
        elif prev_group and not (
            extend_map.get(prev_value, default_extend_to_line_enabled)
            if prev_value is not None
            else default_extend_to_line_enabled
        ):
            result.extend(group)
        elif next_group and not (
            extend_map.get(next_value, default_extend_to_line_enabled)
            if next_value is not None
            else default_extend_to_line_enabled
        ):
            result.extend(group)
        elif prev_group and len(prev_group) > len(group):
            result.extend([to_inside_tag(prev_group[-1])] * len(group))
        elif next_group and len(next_group) > len(group):
            result.extend(to_begin_inside_tags(next_group[0], len(group)))
            if next_prefix == B_PREFIX:
                next_group[0] = to_inside_tag(next_group[0])
        else:
            result.extend(group)
    return result


class SubRun:
    """A maximal run of untagged tokens among one line's pending tokens:
    their flat indices, the joined normalised text and its masked view."""

    __slots__ = ("indices", "text", "masked", "_offsets")

    def __init__(self, view: "MatcherView", indices: List[int]):
        first, last = indices[0], indices[-1]
        if last - first + 1 == len(indices):
            pieces = view.pieces[first:last]
        else:
            pieces = [view.pieces[i] for i in indices[:-1]]
        # the last token contributes no whitespace
        self.text = "".join(pieces) + view.texts[last]
        self.indices = indices
        self.masked = MaskedString(self.text)
        self._offsets: Optional[Tuple[List[int], List[int]]] = None

    def offsets(self, view: "MatcherView") -> Tuple[List[int], List[int]]:
        """Each token's start and end in ``text``, built on first use."""
        if self._offsets is None:
            indices = self.indices
            first, last = indices[0], indices[-1]
            if last - first + 1 == len(indices):
                piece_sizes = view.piece_sizes[first:last]
                text_sizes = view.text_sizes[first : last + 1]
            else:
                piece_sizes = [view.piece_sizes[i] for i in indices[:-1]]
                text_sizes = [view.text_sizes[i] for i in indices]
            starts = list(accumulate(piece_sizes, initial=0))
            self._offsets = (starts, list(map(add, starts, text_sizes)))
        return self._offsets


class MatcherView:
    """The matcher's view of a document (PendingSequences,
    matching_utils.py:260-292).

    Holds the flat token list, each token's ``normalise_str`` text (the
    reference composes it with a junk removal whose default predicate is
    constant-False, matching_utils.py:43-44,62-67, i.e. a no-op), a ``tagged``
    mask mirroring ``Token.tag``, and per line its pending tokens: those
    untagged when the fixpoint round started.  A tagged token is left out of
    the next round's pending tokens, not split at.

    The untagged sub-runs of all lines are kept in one list in document
    order, with their first flat token indices; a tag write re-splits only
    its own line, on the next ``pending`` call."""

    def __init__(self, doc: TokenizedDoc):
        tokens = [token for line in doc.lines for token in line]
        self.tokens = tokens
        self.texts = [normalise_str(token.text) for token in tokens]
        # normalised text plus recorded whitespace (None -> one space)
        self.pieces = [
            text + (" " if token.whitespace is None else token.whitespace)
            for text, token in zip(self.texts, tokens)
        ]
        self.text_sizes = list(map(len, self.texts))
        self.piece_sizes = list(map(len, self.pieces))
        self.tagged = tagged = bytearray(map(bool, [token.tag for token in tokens]))
        # each line's first flat token index, then the end of the last line
        self._line_starts: List[int] = [0]
        self._lines: List[List[int]] = []
        for line in doc.lines:
            pos = self._line_starts[-1]
            self._line_starts.append(pos + len(line))
            indices = list(range(pos, pos + len(line)))
            if 1 in tagged[pos : pos + len(line)]:
                indices = [i for i in indices if not tagged[i]]
            self._lines.append(indices)
        self._runs = [SubRun(self, indices) for indices in self._lines if indices]
        self._firsts = [run.indices[0] for run in self._runs]
        # lines tagged since the round started / since their last re-split
        self._touched: Set[int] = set()
        self._dirty: Set[int] = set()
        # bumped by every change of the pending tokens or their tags
        self.version = 0

    def next_round(self) -> None:
        """Start a fixpoint round: drop tagged tokens from the pending tokens
        of the lines tagged in the last one."""
        tagged = self.tagged
        for line in self._touched:
            self._lines[line] = [i for i in self._lines[line] if not tagged[i]]
        self._dirty |= self._touched
        self._touched.clear()
        self.version += 1

    def tag_tokens(self, indices: List[int], tags: List[str]) -> None:
        """Set ``Token.tag`` of the tokens at these flat indices."""
        tokens = self.tokens
        tagged = self.tagged
        for index, tag in zip(indices, tags):
            tokens[index].tag = tag
            tagged[index] = 1
        lines = {bisect_right(self._line_starts, index) - 1 for index in indices}
        self._touched |= lines
        self._dirty |= lines
        self.version += 1

    def _resplit(self, line: int) -> None:
        sub_runs = []
        tagged = self.tagged
        run: List[int] = []
        for i in self._lines[line]:
            if not tagged[i]:
                run.append(i)
            elif run:
                sub_runs.append(SubRun(self, run))
                run = []
        if run:
            sub_runs.append(SubRun(self, run))
        # the line's old sub-runs start within its token range
        lo = bisect_left(self._firsts, self._line_starts[line])
        hi = bisect_left(self._firsts, self._line_starts[line + 1])
        self._runs[lo:hi] = sub_runs
        self._firsts[lo:hi] = [run.indices[0] for run in sub_runs]

    def pending(
        self,
        first: int = 0,
        limit: Optional[int] = None,
        cached: Optional["PendingText"] = None,
    ) -> "PendingText":
        """The sub-runs that start at flat token ``first`` or later, the first
        ``limit`` of them if ``limit`` is set, as one text; ``cached`` (an
        earlier result) is returned again while it is still current."""
        key = (first, limit, self.version)
        if cached is not None and cached.key == key:
            return cached
        for line in self._dirty:
            self._resplit(line)
        self._dirty.clear()
        start = bisect_left(self._firsts, first)
        runs = self._runs[start : start + limit] if limit else self._runs[start:]
        return PendingText(self, runs, key)


class PendingText:
    """Sub-runs joined with '\\n' (SequencesText, matching_utils.py:295-333):
    the text, each sub-run's [start, end) in it, and its masked view."""

    __slots__ = ("view", "runs", "key", "text", "starts", "ends", "masked")

    def __init__(self, view: MatcherView, runs: List[SubRun], key: Tuple[int, Optional[int], int]):
        self.view = view
        self.runs = runs
        self.key = key
        texts = [run.text for run in runs]
        self.text = "\n".join(texts)
        sizes = list(map(len, texts))
        self.starts = list(accumulate([size + 1 for size in sizes[:-1]], initial=0)) if runs else []
        self.ends = list(map(add, self.starts, sizes))
        self.masked = JoinedMaskedString([run.masked for run in runs], self.starts)

    def token_indices_between(self, index_range: IndexRange) -> List[int]:
        """Flat indices of the tokens overlapping ``index_range``."""
        start, end = index_range
        indices: List[int] = []
        for k in range(bisect_right(self.ends, start), bisect_left(self.starts, end)):
            run = self.runs[k]
            offset = self.starts[k]
            starts, ends = run.offsets(self.view)
            indices.extend(
                run.indices[bisect_right(ends, start - offset) : bisect_left(starts, end - offset)]
            )
        return indices


class SimpleMatcher:
    """Port of SimpleMatchingAnnotator.annotate (simple_matching_annotator.py:360-753)."""

    def __init__(self, target_annotations: List[TargetAnnotation], config: Optional[MatcherConfig] = None):
        self.target_annotations = target_annotations
        self.config = config or MatcherConfig()
        self.merge_enabled_map = {
            tag: cfg.merge_enabled for tag, cfg in self.config.tag_config_map.items()
        }
        self.extend_to_line_enabled_map = {
            tag: cfg.extend_to_line_enabled for tag, cfg in self.config.tag_config_map.items()
        }

    # -- fuzzy lookups -----------------------------------------------------

    def _search_chunks(self, haystack: str, needle: str, **kwargs) -> Optional[List[IndexRange]]:
        """Needle search with normalization + reduced-needle fallback
        (simple_matching_annotator.py:386-412)."""
        if len(needle) < self.config.min_token_length:
            return None
        target_value = normalise_str_or_list(needle)
        if len(target_value) < self.config.exact_word_match_threshold:
            # word matcher does not treat '\n' as a separator by default
            haystack = haystack.replace("\n", " ")
        chunks = fuzzy_search_index_range_chunks(
            haystack,
            target_value,
            threshold=self.config.threshold,
            exact_word_match_threshold=self.config.exact_word_match_threshold,
            **kwargs,
        )
        if chunks:
            return chunks
        reduced = split_and_join_with_space(normalise_str(needle))
        return fuzzy_search_index_range_chunks(
            haystack,
            reduced,
            threshold=self.config.threshold,
            exact_word_match_threshold=self.config.exact_word_match_threshold,
            **kwargs,
        )

    def _search_with_alternatives_chunks(
        self,
        haystack: str,
        needle: str,
        alternative_spellings: Optional[Dict[str, List[str]]],
        **kwargs,
    ) -> Optional[List[IndexRange]]:
        chunks = self._search_chunks(haystack, needle, **kwargs)
        if chunks or not alternative_spellings:
            return chunks
        for alternative in alternative_spellings.get(needle, []):
            chunks = self._search_chunks(haystack, alternative, **kwargs)
            if chunks:
                return chunks
        return None

    def _search_with_alternatives(self, *args, **kwargs) -> Optional[IndexRange]:
        chunks = self._search_with_alternatives_chunks(*args, **kwargs)
        if not chunks:
            return None
        return chunks[0][0], chunks[-1][1]

    # -- match application ---------------------------------------------------

    def _apply_match_prefix_regex(
        self,
        text: PendingText,
        index_range: IndexRange,
        tag_name: str,
        target_annotation: TargetAnnotation,
    ) -> IndexRange:
        """Extend a match's start to a configured prefix pattern found before
        it (simple_matching_annotator.py:445-489), with {sub} placeholders."""
        tag_config = self.config.get_tag_config(tag_name)
        start_index, end_index = index_range
        pattern = tag_config.match_prefix_regex
        if start_index > 0 and pattern:
            if "{" in pattern:
                placeholders = {
                    sub.name: sub.value
                    for sub in target_annotation.sub_annotations
                    if not isinstance(sub.value, list)
                }
                pattern = re.sub(
                    r"{([^}]+)}",
                    lambda m: re.escape(placeholders.get(m.group(1), "NOT_FOUND")),
                    pattern,
                )
            m = re.search(pattern, text.text[:start_index])
            if m:
                start_index = m.start()
        return start_index, end_index

    def _tag_tokens_in_range(self, text: PendingText, index_range: IndexRange, tag_name: str) -> None:
        """BIO-tag untagged tokens in the matched range
        (simple_matching_annotator.py:491-516)."""
        view = text.view
        tagged = view.tagged
        untagged = [i for i in text.token_indices_between(index_range) if not tagged[i]]
        if not untagged:
            return
        if self.config.use_begin_prefix:
            tags = [add_tag_prefix(tag_name, B_PREFIX)]
            tags += [add_tag_prefix(tag_name, I_PREFIX)] * (len(untagged) - 1)
        else:
            tags = [tag_name] * len(untagged)
        view.tag_tokens(untagged, tags)
        if not self.config.preserve_sub_annotations:
            for i in untagged:
                view.tokens[i].sub_tag = None

    def _apply_sub_annotations(
        self,
        text: PendingText,
        index_range: IndexRange,
        sub_annotations: List[TargetAnnotation],
    ) -> None:
        """Locate sub-field values inside a matched range and sub-tag them
        (simple_matching_annotator.py:518-570)."""
        if not sub_annotations:
            return
        all_tokens = text.view.tokens
        tokens = [all_tokens[i] for i in text.token_indices_between(index_range)]
        sub_text_str, ranges = join_with_index_ranges(
            [t.text for t in tokens], [t.whitespace for t in tokens], sep=" "
        )
        sub_text_str = sub_text_str.lower()
        starts = [start for start, _ in ranges]
        ends = [end for _, end in ranges]
        for sub_annotation in sub_annotations:
            target_value = sub_annotation.value
            assert not isinstance(target_value, list), "list sub annotation values not supported"
            target_value = target_value.lower()
            for sub_index_range in iter_fuzzy_search_all_index_ranges(
                sub_text_str,
                target_value,
                threshold=self.config.threshold,
                exact_word_match_threshold=self.config.exact_word_match_threshold,
            ):
                matching_tokens = tokens[
                    bisect_right(ends, sub_index_range[0]) : bisect_left(starts, sub_index_range[1])
                ]
                if any(t.sub_tag for t in matching_tokens):
                    continue
                for index, token in enumerate(matching_tokens):
                    prefix = None
                    if self.config.use_begin_prefix:
                        prefix = B_PREFIX if index == 0 else I_PREFIX
                    token.sub_tag = add_tag_prefix(sub_annotation.name, prefix=prefix)
                break

    # -- per-annotation matching -------------------------------------------

    def _iter_matching_index_ranges(
        self, text: PendingText, target_annotation: TargetAnnotation
    ) -> Iterator[IndexRange]:
        """simple_matching_annotator.py:572-630."""
        tag_config = self.config.get_tag_config(target_annotation.name)
        alternative_spellings = tag_config.alternative_spellings
        text_str = text.text
        if isinstance(target_annotation.value, list):
            found = [
                r
                for r in (
                    self._search_with_alternatives(
                        text_str,
                        value,
                        alternative_spellings=alternative_spellings,
                        haystack_view=text.masked,
                    )
                    for value in target_annotation.value
                )
                if r
            ]
            if found:
                selected, _unselected = select_index_ranges(found)
                yield merge_index_ranges(selected)
            return
        chunks = self._search_with_alternatives_chunks(
            text_str,
            target_annotation.value,
            alternative_spellings=alternative_spellings,
            max_chunks=tag_config.max_chunks,
            haystack_view=text.masked,
        )
        if chunks:
            yield from chunks

    def _process_target_annotations(
        self, view: MatcherView, target_annotations: List[TargetAnnotation]
    ) -> List[TargetAnnotation]:
        """One pass over annotations; returns the unmatched ones
        (simple_matching_annotator.py:651-731)."""
        unmatched: List[TargetAnnotation] = []
        # the current block's pending text starts at this flat token index
        block_first = 0
        current_block_name: Optional[str] = None
        # the last lookahead and whole-document texts, reused until a tag write
        lookahead: Optional[PendingText] = None
        whole: Optional[PendingText] = None
        for tag_name, grouped in groupby(target_annotations, key=lambda t: t.name):
            tag_block_name = self.config.get_tag_config(tag_name).block_name or "default"
            for target_annotation in list(grouped):
                text = lookahead = view.pending(
                    block_first, self.config.lookahead_sequence_count, cached=lookahead
                )
                index_ranges = list(self._iter_matching_index_ranges(text, target_annotation))
                if not index_ranges and current_block_name != tag_block_name:
                    # block changed: rescan the whole document
                    text = whole = view.pending(cached=whole)
                    index_ranges = list(self._iter_matching_index_ranges(text, target_annotation))
                    if not index_ranges:
                        unmatched.append(target_annotation)
                        continue
                    # the new block: every sub-run from the one holding the
                    # match start to the end of the document
                    k = bisect_right(text.ends, merge_index_ranges(index_ranges)[0])
                    block_first = text.runs[k].indices[0] if k < len(text.runs) else len(view.tokens)
                    current_block_name = tag_block_name
                if not index_ranges:
                    unmatched.append(target_annotation)
                    continue
                for index_range in index_ranges:
                    index_range = self._apply_match_prefix_regex(
                        text, index_range, tag_name, target_annotation
                    )
                    self._tag_tokens_in_range(text, index_range, tag_name)
                    if self.config.use_sub_annotations:
                        self._apply_sub_annotations(
                            text, index_range, target_annotation.sub_annotations
                        )
        return unmatched

    def _extend_to_lines(self, doc: TokenizedDoc) -> None:
        for line in doc.lines:
            tags = [t.tag for t in line]
            if not any(tags):
                # nothing to extend from: every extended tag would be None
                continue
            extended = get_extended_line_token_tags(
                tags,
                extend_to_line_enabled_map=self.extend_to_line_enabled_map,
                merge_enabled_map=self.merge_enabled_map,
            )
            for token, tag in zip(line, extended):
                if tag:
                    token.tag = tag

    def annotate(self, doc: TokenizedDoc) -> TokenizedDoc:
        """Fixpoint over unmatched annotations, then extend-to-line
        (simple_matching_annotator.py:733-748)."""
        remaining = self.target_annotations
        view = MatcherView(doc) if remaining else None
        while remaining:
            new_remaining = self._process_target_annotations(view, remaining)
            if len(new_remaining) == len(remaining):
                break
            remaining = new_remaining
            view.next_round()
        if self.config.extend_to_line_enabled:
            self._extend_to_lines(doc)
        return doc


def extract_entity_spans(doc: TokenizedDoc) -> List[Dict[str, object]]:
    """Collapse BIO token tags into entity spans with absolute character
    offsets into the extracted text (semantics of annotation/checks.py:56-76:
    a new entity starts at a b- prefix or a tag-value change)."""
    spans: List[Dict[str, object]] = []
    current: Optional[Dict[str, object]] = None
    current_value: Optional[str] = None
    for token in doc.iter_tokens():
        tag = token.tag
        if not tag:
            # untagged fast path: the overwhelming majority of tokens —
            # skip the split_tag_prefix call entirely
            current = None
            current_value = None
            continue
        prefix, value = split_tag_prefix(tag)
        if not value:
            current = None
            current_value = None
            continue
        if current is not None and value == current_value and prefix != B_PREFIX:
            current["end"] = token.end
        else:
            current = {"field": value, "start": token.start, "end": token.end}
            current_value = value
            spans.append(current)
    for span in spans:
        span["text"] = doc.extracted_text[span["start"] : span["end"]]  # type: ignore[index]
    return spans


def extract_sub_entity_spans(doc: TokenizedDoc) -> List[Dict[str, object]]:
    """Entity spans of the level-2 (sub) tags."""
    spans: List[Dict[str, object]] = []
    current: Optional[Dict[str, object]] = None
    current_value: Optional[str] = None
    for token in doc.iter_tokens():
        sub_tag = token.sub_tag
        if not sub_tag:
            current = None
            current_value = None
            continue
        prefix, value = split_tag_prefix(sub_tag)
        if not value:
            current = None
            current_value = None
            continue
        if current is not None and value == current_value and prefix != B_PREFIX:
            current["end"] = token.end
        else:
            current = {"field": value, "start": token.start, "end": token.end}
            current_value = value
            spans.append(current)
    for span in spans:
        span["text"] = doc.extracted_text[span["start"] : span["end"]]  # type: ignore[index]
    return spans


class SubTagOnlyMatcher(SimpleMatcher):
    """Annotate only level-2 sub-tags, preserving existing main tags
    (port of annotation/sub_tag_annotator.py:20-49): tags are stashed and
    cleared so the matcher sees the full token stream, the match itself is a
    no-op at the main level, and original tags are restored afterwards."""

    def _tag_tokens_in_range(self, text, index_range, tag_name):  # type: ignore[override]
        return None

    def _extend_to_lines(self, doc):  # type: ignore[override]
        return None

    def annotate(self, doc: TokenizedDoc) -> TokenizedDoc:
        saved_tags = [(token, token.tag or token.preserved_tag) for token in doc.iter_tokens()]
        for token, _ in saved_tags:
            token.tag = None
            if not self.config.preserve_sub_annotations:
                token.sub_tag = token.sub_tag  # preserved sub-tags not modeled separately
        super().annotate(doc)
        for token, saved in saved_tags:
            token.tag = saved
        return doc
