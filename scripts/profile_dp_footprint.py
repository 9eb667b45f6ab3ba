"""Profile the alignment DP's cache footprint (round-3 verdict item 1).

Two views:

1. EMPIRICAL — run the flagship per-document kernel (annotate_document_row,
   no Spark) over a sample of the synthetic corpus, recording every native
   DP call's (n, m) via a monkeypatch, and report the matrix-size
   distribution against the cache hierarchy.

2. PRODUCTION-WINDOW SWEEP — the synthetic corpus only carries short title
   needles; real front/body/back annotations bring needles up to multi-KB
   abstracts/sections.  auto_window makes the haystack window a pure
   function of needle length, so the matrix size at any needle length is
   deterministic: sweep it and report where the working set crosses L1/L2/
   L3-share.

Usage: python scripts/profile_dp_footprint.py [n_docs] [sf_dir]
"""

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sciencebeam_trainer_grobid_tools_spark.kernel import align
from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import auto_window
from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import annotate_document_row
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import DEFAULT_XML_MAPPING


def cache_sizes():
    sizes = {}
    base = "/sys/devices/system/cpu/cpu0/cache"
    try:
        for idx in os.listdir(base):
            if not idx.startswith("index"):
                continue
            with open(os.path.join(base, idx, "level")) as fh:
                level = fh.read().strip()
            with open(os.path.join(base, idx, "type")) as fh:
                typ = fh.read().strip()
            with open(os.path.join(base, idx, "size")) as fh:
                raw = fh.read().strip()
            size = int(raw[:-1]) * 1024 if raw.endswith("K") else int(raw)
            with open(os.path.join(base, idx, "shared_cpu_list")) as fh:
                shared = fh.read().strip()
            if typ != "Instruction":
                sizes["L%s" % level] = {"bytes": size, "shared": shared}
    except OSError:
        pass
    return sizes


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    calls = []
    original = align.native_match_blocks

    def recording(a_bytes, n, b_bytes, m):
        calls.append((n, m))
        return original(a_bytes, n, b_bytes, m)

    # every DP call goes through the one name local_matching_blocks resolves
    align.native_match_blocks = recording

    table = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).slice(0, n_docs)
    docs = table.to_pylist()
    for row in docs:
        text = row["text"]
        title = " ".join(text.split(" ")[:8])
        html = (
            "<html><head><title>ignored</title><script>var x=1;</script></head>"
            "<body><nav>Home | About</nav><div id='content'><p>"
            + text.replace("\n", "</p><p>")
            + "</p></div><footer>Copyright</footer></body></html>"
        ).encode("utf-8")
        target_xml = (
            "<article><front><article-meta><title-group><article-title>"
            + title
            + "</article-title></title-group></article-meta></front></article>"
        )
        annotate_document_row(
            "doc://%d" % row["doc_id"], html, None, target_xml,
            DEFAULT_XML_MAPPING,
        )

    align.native_match_blocks = original

    sizes = np.array(
        [(n + 1) * (m + 1) * 2 for n, m in calls], dtype=np.int64
    )  # int16 cells
    caches = cache_sizes()
    l2 = caches.get("L2", {}).get("bytes", 2 * 1024 * 1024)
    l3 = caches.get("L3", {}).get("bytes", 0)
    n_cores = os.cpu_count() or 1
    l3_share = l3 // n_cores if l3 else 0

    report = {
        "docs": len(docs),
        "dp_calls": len(calls),
        "calls_per_doc": round(len(calls) / max(1, len(docs)), 2),
        "matrix_bytes": {
            "p50": int(np.percentile(sizes, 50)) if len(sizes) else 0,
            "p90": int(np.percentile(sizes, 90)) if len(sizes) else 0,
            "p99": int(np.percentile(sizes, 99)) if len(sizes) else 0,
            "max": int(sizes.max()) if len(sizes) else 0,
        },
        "fit_l1_48k": float((sizes <= 48 * 1024).mean()) if len(sizes) else None,
        "fit_l2": float((sizes <= l2).mean()) if len(sizes) else None,
        "fit_l3_share": float((sizes <= l3_share).mean()) if len(sizes) else None,
        "total_matrix_mb_per_doc": round(
            float(sizes.sum()) / max(1, len(docs)) / 1e6, 3
        ),
        "caches": caches,
        "l3_share_per_core": l3_share,
    }

    # production-window sweep: matrix bytes as a function of needle length
    sweep = []
    for needle_len in [50, 100, 200, 500, 1000, 2000, 5000, 10000]:
        window, stride = auto_window(10**9, needle_len, threshold=0.8)
        bytes_ = (window + 1) * (needle_len + 1) * 2
        sweep.append(
            {
                "needle_chars": needle_len,
                "window": window,
                "matrix_bytes": bytes_,
                "fits_l1_48k": bytes_ <= 48 * 1024,
                "fits_l2": bytes_ <= l2,
                "fits_l3_share": bool(l3_share) and bytes_ <= l3_share,
            }
        )
    report["window_sweep"] = sweep
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
