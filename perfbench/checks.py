"""Output checks: digests of the annotated outputs and per-document invariants.

A digest covers the fields a consumer of the annotation reads (url,
extracted_text, spans, sub_spans, passed, reason, tei_xml).  Expected digests
for the default seed and sizes are committed in ``expected_digests.json``.
After a change that is meant to alter the outputs, copy the digest a run
prints in its ``notes:`` line into that file by hand.
"""

from __future__ import annotations

import hashlib
import json
import os
import xml.etree.ElementTree as ET
from typing import Dict, Iterable, List, Optional

DIGEST_FIELDS = ("url", "extracted_text", "spans", "sub_spans", "passed", "reason", "tei_xml")
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")


class CheckFailed(Exception):
    """An output check failed; the message names the check."""


def _spans(spans) -> List[list]:
    return [[s["field"], s["start"], s["end"], s["text"]] for s in spans or ()]


def document_digest(result: Dict[str, object]) -> str:
    record = [
        result["url"],
        result["extracted_text"],
        _spans(result["spans"]),
        _spans(result["sub_spans"]),
        result["passed"],
        result["reason"],
        result["tei_xml"],
    ]
    return hashlib.sha1(json.dumps(record, ensure_ascii=False).encode("utf-8")).hexdigest()


def outputs_digest(results: Iterable[Dict[str, object]]) -> str:
    """Order-independent digest of a set of document outputs."""
    digests = sorted((str(r["url"]), document_digest(r)) for r in results)
    return hashlib.sha256(json.dumps(digests).encode("utf-8")).hexdigest()


def check_document_invariants(result: Dict[str, object], with_targets: bool) -> Optional[str]:
    """Returns the name of the first invariant a document output breaks."""
    if result["error"] is not None:
        return "document_error"
    text = result["extracted_text"]
    for span in list(result["spans"] or ()) + list(result["sub_spans"] or ()):
        if text[span["start"] : span["end"]] != span["text"]:
            return "span_text_matches_offsets"
    if not with_targets and (result["spans"] or result["alignment_attempts"]):
        return "no_spans_without_targets"
    if result["alignment_hits"] > result["alignment_attempts"]:
        return "hits_within_attempts"
    if not isinstance(result["passed"], bool):
        return "passed_is_boolean"
    try:
        ET.fromstring(result["tei_xml"])
    except (ET.ParseError, TypeError):
        return "tei_xml_well_formed"
    return None


def check_outputs(results: List[Dict[str, object]], with_targets: bool, label: str) -> None:
    for result in results:
        broken = check_document_invariants(result, with_targets)
        if broken:
            raise CheckFailed("%s: %s (url %s)" % (label, broken, result["url"]))


def load_expected() -> Dict[str, str]:
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def check_digest(workload: str, seed: int, n_docs: int, digest: str) -> None:
    """Compare ``digest`` with the committed one for (workload, seed,
    n_docs), if there is one."""
    key = "%s/s%d/n%d" % (workload, seed, n_docs)
    expected = load_expected()
    if expected.get(key, digest) != digest:
        raise CheckFailed("expected_digest: %s digest %s != committed %s" % (key, digest, expected[key]))
