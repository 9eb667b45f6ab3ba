"""PySpark-native training-data extraction + fuzzy-annotation engine.

A brand-new, Spark-first implementation of the computational semantics of
elifesciences/sciencebeam-trainer-grobid-tools (reference at /root/reference):
HTML/TEI text extraction, regex tokenization, Smith-Waterman fuzzy target
alignment and BIO span labeling — expressed as pyspark.sql DataFrame
transforms with Arrow-batched ``mapInPandas`` kernels, plus corpus-scale
companions (dedup, similarity search, text analysis) the reference lacks.

Layout:
  kernel/     pure python+numpy alignment / tokenization kernels (no Spark)
  operators/  document-level operators (annotate, extract, targets) and
              corpus-level Spark operators (dedup, similarity, textstats)
  sources/    synthetic corpus generator, table IO + resume helpers
  plans/      end-to-end Spark pipelines (the flagship extraction plan)
  streaming/  incremental / resumable execution
  zipcache    stat-guarded zip directory reloads, installed in PySpark
              workers only
"""

from .zipcache import install_in_worker as _install_in_worker

__version__ = "0.1.0"

_install_in_worker()
