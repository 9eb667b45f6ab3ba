"""``python -m ...cli.annotate_corpus`` — the engine's north-star job as a
spark-submit-able main: Common-Crawl-style corpus table in, annotated span
table + per-chunk manifest out, resumable from the output's own url set.

This main has no single reference analogue (the reference operates on file
trees); it is the table-native pipeline the engine adds (SURVEY.md §7), run
exactly as it would be on a cluster:

    python scripts/build_pyfiles_zip.py
    spark-submit --py-files dist/sciencebeam_trainer_grobid_tools_spark.zip \
        -m sciencebeam_trainer_grobid_tools_spark.cli.annotate_corpus ... (or a
        thin job .py importing main())

Input: a parquet/Iceberg-seam table with columns
(url, warc_ts, html binary, text, lang[, target_xml]).
"""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..streaming.resume import run_resumable
from . import shared

LOGGER = logging.getLogger(__name__)


def add_main_args(parser: argparse.ArgumentParser) -> None:
    parser.add_argument("--input-path", type=str, required=True,
                        help="corpus table path (parquet directory)")
    parser.add_argument("--output-path", type=str, required=True,
                        help="output directory (annotated/ parquet + "
                             "manifest.jsonl lineage)")
    parser.add_argument("--chunk-size", type=int, default=10000,
                        help="documents per resumable chunk")
    parser.add_argument("--max-chunks", type=int, default=None,
                        help="stop after N chunks (resume later)")
    parser.add_argument("--limit", type=int, default=None,
                        help="limit the number of input documents")
    parser.add_argument("--mapping-path", type=str, default=None,
                        help="xml mapping config (defaults to the packaged "
                             "mapping)")
    parser.add_argument("--matcher-score-threshold", type=float, default=0.8)
    parser.add_argument("--matcher-lookahead-lines", type=int, default=500)
    parser.add_argument("--require-matching-fields", type=str, default="title",
                        help="comma separated fields the checks require to "
                             "match")
    parser.add_argument("--use-text", action="store_true", default=False,
                        help="extract from the text column instead of html")
    parser.add_argument("--render-tei", action="store_true", default=False,
                        help="emit a serialized TEI column per document")
    parser.add_argument("--repartition", type=int, default=None,
                        help="salted url-hash repartition width before the "
                             "kernel (default: defaultParallelism)")
    parser.add_argument("--max-doc-bytes", type=int, default=None,
                        help="oversized-document guard threshold in bytes: "
                             "bigger payloads become accounted "
                             "oversized_document error rows instead of "
                             "stalling a core (default: 64 MiB; 0 "
                             "disables)")
    spark_group = parser.add_argument_group("spark")
    spark_group.add_argument("--spark-cpus", type=int, default=None)
    spark_group.add_argument("--spark-shuffle-partitions", type=int, default=None)
    shared.add_debug_argument(parser)


def parse_args(argv: Optional[list] = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser()
    add_main_args(parser)
    return parser.parse_args(argv)


def run(args: argparse.Namespace) -> dict:
    spark = shared.get_or_create_session(args, "annotate-corpus")
    docs = spark.read.parquet(args.input_path)
    if args.limit:
        docs = docs.limit(args.limit)
    annotate_kwargs = dict(
        threshold=args.matcher_score_threshold,
        lookahead_lines=args.matcher_lookahead_lines,
        require_matching_fields=args.require_matching_fields,
        use_html=not args.use_text,
        render_tei=args.render_tei,
        repartition=args.repartition or spark.sparkContext.defaultParallelism,
        max_doc_bytes=args.max_doc_bytes,
    )
    if args.mapping_path:
        with open(args.mapping_path, encoding="utf-8") as fh:
            annotate_kwargs["mapping_text"] = fh.read()
    counters = run_resumable(
        spark,
        docs,
        output_dir=args.output_path,
        chunk_size=args.chunk_size,
        max_chunks=args.max_chunks,
        **annotate_kwargs,
    )
    LOGGER.info("counters: %s", counters)
    print("counters: %s" % counters)
    return counters


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
