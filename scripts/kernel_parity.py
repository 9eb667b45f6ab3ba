"""Compare the per-document kernel of two source trees, output by output.

Usage:
    python scripts/kernel_parity.py <parent_root> <change_root>

For each tree a subprocess (working directory and import path = that tree)
runs ``annotate_document_row(..., render_tei=True)`` on the tree's own
``generate_documents(seed, range(count))``, once with the documents' target
XML and once without, and prints one digest per output: seeds 1-20 x 500
documents with the simple matcher and seeds 1-3 x 150 with
``matcher="complex"``, 20,900 outputs in all.  The script prints the number
of outputs compared and every mismatch, and exits 1 if any output differs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from typing import Dict, List, Tuple

# (matcher, seeds, documents per seed)
_PLAN = [
    ["simple", list(range(1, 21)), 500],
    ["complex", list(range(1, 4)), 150],
]

_WORKER = r"""
import hashlib, json, sys
from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import annotate_document_row
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
    DEFAULT_XML_MAPPING, generate_documents,
)

for matcher, seeds, count in json.loads(sys.argv[1]):
    for seed in seeds:
        for doc in generate_documents(seed, range(count)):
            for with_targets in (True, False):
                out = annotate_document_row(
                    url=doc["url"], html=doc["html"], text=None,
                    target_xml=doc["target_xml"] if with_targets else None,
                    mapping_text=DEFAULT_XML_MAPPING, render_tei=True, matcher=matcher,
                )
                blob = json.dumps(out, sort_keys=True, default=str).encode("utf-8")
                print("%s/%d/%s/%d %s" % (
                    matcher, seed, doc["url"], with_targets, hashlib.sha1(blob).hexdigest()
                ))
"""


def _digests(root: str) -> Dict[str, str]:
    env = dict(os.environ, PYTHONPATH=os.path.abspath(root))
    out = subprocess.run(
        [sys.executable, "-c", _WORKER, json.dumps(_PLAN)],
        cwd=root, env=env, check=True, capture_output=True, text=True,
    ).stdout
    pairs: List[Tuple[str, str]] = [line.rsplit(" ", 1) for line in out.splitlines()]
    digests = dict(pairs)
    if len(digests) != len(pairs):
        raise SystemExit("%s: duplicate output keys" % root)
    return digests


def main() -> int:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    parent_root, change_root = sys.argv[1:]
    parent = _digests(parent_root)
    change = _digests(change_root)
    keys = parent.keys() | change.keys()
    mismatches = sorted(key for key in keys if parent.get(key) != change.get(key))
    for key in mismatches:
        print("mismatch %s parent=%s change=%s" % (key, parent.get(key), change.get(key)))
    for matcher, _, _ in _PLAN:
        n = sum(1 for key in change if key.startswith(matcher + "/"))
        print("%s: %d outputs" % (matcher, n))
    print("compared %d outputs, mismatches = %d" % (len(keys), len(mismatches)))
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
