"""Set-up probe for the kernel workloads: one fresh process.

``python -m perfbench.probe <warmup.json> <0|1>`` from the repository root
prints ``{"setup_s": ...}``: the time from before the package import to the
end of one warm-up ``annotate_document_row`` call (with the target document
when the second argument is 1), which covers the import, the native-kernel
load and every lazy first-call initialisation.
"""

from __future__ import annotations

import json
import sys
import time


def main(warmup_path: str, with_targets: bool) -> None:
    with open(warmup_path, encoding="utf-8") as fh:
        doc = json.load(fh)
    start = time.perf_counter()
    from sciencebeam_trainer_grobid_tools_spark.kernel.native import get_native_lib
    from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import annotate_document_row
    from sciencebeam_trainer_grobid_tools_spark.sources.corpus import DEFAULT_XML_MAPPING

    get_native_lib()
    annotate_document_row(
        url=doc["url"],
        html=doc["html"].encode("utf-8"),
        text=None,
        target_xml=doc["target_xml"] if with_targets else None,
        mapping_text=DEFAULT_XML_MAPPING,
        render_tei=True,
    )
    print(json.dumps({"setup_s": time.perf_counter() - start}))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2] == "1")
