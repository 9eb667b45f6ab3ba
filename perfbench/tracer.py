"""In-memory span tracer for the per-document kernel.

Wrappers are installed at the names ``annotate_document_row`` resolves at
call time, so the package itself is not modified and carries no tracing code:

- the ``pipeline`` module's ``html_to_lines``, ``tokenize_lines``,
  ``xml_string_to_target_annotations``, ``extract_entity_spans``,
  ``extract_sub_entity_spans`` and ``check_document``;
- ``SimpleMatcher.annotate``;
- ``tei_render.render_tei_xml`` (imported inside the function at call time);
- ``annotate.fuzzy_search_index_range_chunks`` and
  ``annotate.iter_fuzzy_search_all_index_ranges`` (a generator: one span per
  step);
- ``fuzzy.local_matching_blocks`` and ``fuzzy.word_matching_blocks``.

Token-level doc-model internals are deliberately not wrapped, so matcher glue
shows up as the self time of ``SimpleMatcher.annotate``.

A span is ``(name, start_ns, end_ns, parent_index, doc_id)``; a layer's self
time is its span's duration minus the durations of its direct children.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional, Tuple

Span = Tuple[str, int, int, int, Optional[str]]

DOC = "doc"

# (module path, attribute path, span name, counter, amount): after each call
# counts[counter] grows by amount(args, kwargs, result)
_TARGETS = (
    ("plans.pipeline", "html_to_lines", "html_to_lines",
     "bytes_in", lambda a, k, r: len(a[0] if a else k["html"])),
    ("plans.pipeline", "tokenize_lines", "tokenize_lines", None, None),
    ("plans.pipeline", "xml_string_to_target_annotations", "xml_to_targets",
     "targets", lambda a, k, r: len(r)),
    ("plans.pipeline", "extract_entity_spans", "extract_spans", "spans", lambda a, k, r: len(r)),
    ("plans.pipeline", "extract_sub_entity_spans", "extract_sub_spans",
     "spans", lambda a, k, r: len(r)),
    ("plans.pipeline", "check_document", "check_document", None, None),
    ("operators.annotate", "SimpleMatcher.annotate", "match", None, None),
    ("operators.tei_render", "render_tei_xml", "render_tei",
     "tei_bytes", lambda a, k, r: len(r.encode("utf-8"))),
    ("operators.annotate", "fuzzy_search_index_range_chunks", "fuzzy_search", None, None),
    ("operators.annotate", "iter_fuzzy_search_all_index_ranges", "fuzzy_search_all", None, None),
    ("kernel.fuzzy", "local_matching_blocks", "sw", "sw_cells", lambda a, k, r: len(a[0]) * len(a[1])),
    ("kernel.fuzzy", "word_matching_blocks", "word", None, None),
)

GENERATORS = {"fuzzy_search_all"}


class Tracer:
    """Records spans and counters; ``install`` patches the kernel's names."""

    def __init__(self) -> None:
        self.spans: List[Span] = []
        self.counts: Dict[str, int] = defaultdict(int)
        self.doc_id: Optional[str] = None
        self._stack: List[int] = []
        self._documents: Dict[Callable, Callable] = {}

    def _wrap(self, name: str, fn: Callable, counter: Optional[str] = None,
              amount: Optional[Callable] = None) -> Callable:
        spans, stack, counts, clock = self.spans, self._stack, self.counts, time.perf_counter_ns
        calls_key = name + ".calls"
        tracer = self

        def traced(*args, **kwargs):
            counts[calls_key] += 1
            parent = stack[-1] if stack else -1
            index = len(spans)
            spans.append(None)  # type: ignore[arg-type]
            stack.append(index)
            start = clock()
            try:
                result = fn(*args, **kwargs)
            finally:
                end = clock()
                stack.pop()
                spans[index] = (name, start, end, parent, tracer.doc_id)
            if counter is not None:
                counts[counter] += amount(args, kwargs, result)
            return result

        return traced

    def _wrap_generator(self, name: str, fn: Callable) -> Callable:
        spans, stack, counts, clock = self.spans, self._stack, self.counts, time.perf_counter_ns
        calls_key = name + ".calls"
        tracer = self

        def traced(*args, **kwargs):
            counts[calls_key] += 1
            inner = iter(fn(*args, **kwargs))
            while True:
                parent = stack[-1] if stack else -1
                index = len(spans)
                spans.append(None)  # type: ignore[arg-type]
                stack.append(index)
                start = clock()
                try:
                    item = next(inner)
                except StopIteration:
                    return
                finally:
                    end = clock()
                    stack.pop()
                    spans[index] = (name, start, end, parent, tracer.doc_id)
                yield item

        return traced

    def document(self, doc_id: str, fn: Callable, *args, **kwargs) -> dict:
        """Run one ``annotate_document_row`` call under a root span and count
        its outcome."""
        traced = self._documents.get(fn)
        if traced is None:
            traced = self._documents[fn] = self._wrap(DOC, fn)
        self.doc_id = doc_id
        try:
            result = traced(*args, **kwargs)
        finally:
            self.doc_id = None
        counts = self.counts
        counts["tokens"] += result["n_tokens"]
        counts["attempts"] += result["alignment_attempts"]
        counts["hits"] += result["alignment_hits"]
        counts["passed"] += bool(result["passed"])
        counts["errors"] += result["error"] is not None
        return result

    def install(self) -> Callable[[], None]:
        """Patch every traced name; returns a function that restores them."""
        import importlib

        restore = []
        for module_path, attr_path, name, counter, amount in _TARGETS:
            owner = importlib.import_module(
                "sciencebeam_trainer_grobid_tools_spark." + module_path
            )
            *owner_path, attr = attr_path.split(".")
            for part in owner_path:
                owner = getattr(owner, part)
            original = owner.__dict__[attr]
            if name in GENERATORS:
                wrapped = self._wrap_generator(name, original)
            else:
                wrapped = self._wrap(name, original, counter, amount)
            setattr(owner, attr, wrapped)
            restore.append((owner, attr, original))

        def uninstall() -> None:
            for owner, attr, original in reversed(restore):
                setattr(owner, attr, original)

        return uninstall

    def aggregate(self) -> Dict[str, float]:
        """The span totals (see ``span_totals``) plus the counters."""
        totals = self.span_totals()
        totals.update(self.counts)
        return totals

    def span_totals(self) -> Dict[str, float]:
        """Fold the recorded spans into ``<name>.total_ns`` and
        ``<name>.self_ns`` totals."""
        child_ns = [0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child_ns[parent] += end - start
        totals: Dict[str, float] = defaultdict(float)
        for (name, start, end, _, _), children in zip(self.spans, child_ns):
            totals[name + ".total_ns"] += end - start
            totals[name + ".self_ns"] += end - start - children
        return dict(totals)

    def write(self, path: str) -> None:
        """Write the recorded spans, one JSON array per line."""
        with open(path, "w", encoding="utf-8") as fh:
            for span in self.spans:
                fh.write(json.dumps(span) + "\n")


def merge(into: Dict[str, float], other: Dict[str, float], sign: int = 1) -> Dict[str, float]:
    for key, value in other.items():
        into[key] = into.get(key, 0) + sign * value
    return into


def layer_metrics(agg: Dict[str, float]) -> Dict[str, Tuple[float, str]]:
    """Per-layer metrics from an aggregate: times in us of self time per
    document, counts per document, ratios over their stated base."""
    docs = agg.get(DOC + ".calls", 0)

    def per_doc_us(*names: str) -> float:
        return sum(agg.get(n + ".self_ns", 0.0) for n in names) / 1000.0 / docs if docs else 0.0

    def per_doc(*keys: str) -> float:
        return sum(agg.get(k, 0) for k in keys) / docs if docs else 0.0

    def ratio(num: str, den: str) -> float:
        return agg.get(num, 0) / agg[den] if agg.get(den) else 0.0

    return {
        "extract.html_to_lines_us": (per_doc_us("html_to_lines"), "us"),
        "extract.bytes_in": (per_doc("bytes_in"), "bytes"),
        "doc.tokenize_lines_us": (per_doc_us("tokenize_lines"), "us"),
        "doc.tokens": (per_doc("tokens"), "count"),
        "targets.xml_to_targets_us": (per_doc_us("xml_to_targets"), "us"),
        "targets.count": (per_doc("targets"), "count"),
        "annotate.match_self_us": (per_doc_us("match"), "us"),
        "annotate.hit_ratio": (ratio("hits", "attempts"), "ratio"),
        "fuzzy.search_calls": (per_doc("fuzzy_search.calls", "fuzzy_search_all.calls"), "count"),
        "fuzzy.search_self_us": (per_doc_us("fuzzy_search", "fuzzy_search_all"), "us"),
        "align.sw_calls": (per_doc("sw.calls"), "count"),
        "align.sw_us": (per_doc_us("sw"), "us"),
        "align.sw_cells": (per_doc("sw_cells"), "count"),
        "align.word_calls": (per_doc("word.calls"), "count"),
        "align.word_us": (per_doc_us("word"), "us"),
        "annotate.spans_us": (per_doc_us("extract_spans", "extract_sub_spans"), "us"),
        "annotate.spans": (per_doc("spans"), "count"),
        "checks.check_document_us": (per_doc_us("check_document"), "us"),
        "checks.pass_ratio": (ratio("passed", DOC + ".calls"), "ratio"),
        "tei_render.render_us": (per_doc_us("render_tei"), "us"),
        "tei_render.bytes_out": (per_doc("tei_bytes"), "bytes"),
        "kernel.unaccounted_us": (per_doc_us(DOC), "us"),
        "doc_error_ratio": (ratio("errors", DOC + ".calls"), "ratio"),
    }
