"""Document quality checks (reference: annotation/checks.py:137-175).

For each required field, the joined tagged-entity text must reach a
Levenshtein ratio >= threshold against the target value.  Returns a
(passed, reason) pair so failing documents can be routed to a failed-output
sink (reference: annotation/annotator.py:185-196) via a partitioned write.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Set, Tuple

from ..kernel.doc import TokenizedDoc
from ..kernel.levenshtein import levenshtein_ratio
from .annotate import TargetAnnotation, extract_entity_spans


def entities_by_field(
    doc: TokenizedDoc, spans: Optional[Sequence[Dict[str, object]]] = None
) -> Dict[str, List[str]]:
    """Entity texts per field; ``spans`` are the document's
    :func:`extract_entity_spans` when the caller already has them."""
    result: Dict[str, List[str]] = {}
    for span in extract_entity_spans(doc) if spans is None else spans:
        result.setdefault(str(span["field"]), []).append(str(span["text"]))
    return result


def check_document(
    doc: TokenizedDoc,
    target_annotations: List[TargetAnnotation],
    require_matching_fields: Optional[Set[str]] = None,
    required_fields: Optional[Set[str]] = None,
    threshold: float = 0.8,
    spans: Optional[Sequence[Dict[str, object]]] = None,
) -> Tuple[bool, Optional[str]]:
    require_matching = set(require_matching_fields or set()) | set(required_fields or set())
    if not require_matching:
        return True, None
    required_value_by_name: Dict[str, str] = {}
    by_name: Dict[str, List[TargetAnnotation]] = {}
    for annotation in target_annotations:
        by_name.setdefault(annotation.name, []).append(annotation)
    for name in require_matching:
        annotations = by_name.get(name)
        if not annotations:
            continue
        if len(annotations) != 1 or not isinstance(annotations[0].value, str):
            # reference restricts checks to single-string fields
            continue
        required_value_by_name[name] = annotations[0].value
    if required_fields:
        missing = set(required_fields) - set(required_value_by_name.keys())
        if missing:
            return False, "missing required fields: %s" % ",".join(sorted(missing))
    if not required_value_by_name:
        return True, None
    entities = entities_by_field(doc, spans)
    for name, required_value in required_value_by_name.items():
        actual_values = entities.get(name, [])
        if not actual_values:
            return False, "field not tagged: %s" % name
        ratio = levenshtein_ratio(required_value, " ".join(actual_values))
        if ratio < threshold:
            return False, "field below threshold (%.2f): %s" % (ratio, name)
    return True, None
