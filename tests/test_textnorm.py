"""Unicode normalization (operators/textnorm.py): composition cases, a
DuckDB nfc_normalize cross-engine differential, NFKC compatibility
folding vs the python reference, null handling and plan shape.

All non-ASCII fixtures are built from explicit escape sequences so the
decomposed forms survive any editor/encoding round-trip.
"""

import unicodedata

import pytest
from pyspark.sql import functions as F

from sciencebeam_trainer_grobid_tools_spark.operators import textnorm
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session


@pytest.fixture(scope="module")
def spark():
    session = build_session("textnorm-tests", cpus=4, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


CASES = [
    "Café au lait",        # e + combining acute -> composes
    "café already NFC",     # precomposed -> unchanged
    "plain ascii",               # unchanged
    "ȩ́ stacked",     # e + cedilla + acute -> composes
    "",                          # empty
]
EXPECT_CHANGED = [True, False, False, True, False]


class TestNormalize:
    def test_nfc_composition_and_changed_flag(self, spark):
        rows = (
            textnorm.normalize_text(_df(spark, CASES))
            .orderBy("doc_id")
            .collect()
        )
        for row, src in zip(rows, CASES):
            assert row.text_norm == unicodedata.normalize("NFC", src)
            assert row.changed == (row.text_norm != src)
        assert [r.changed for r in rows] == EXPECT_CHANGED

    def test_matches_duckdb_nfc(self, spark):
        import duckdb

        rows = (
            textnorm.normalize_text(_df(spark, CASES))
            .orderBy("doc_id")
            .collect()
        )
        con = duckdb.connect()
        for row, src in zip(rows, CASES):
            (expected,) = con.execute(
                "SELECT nfc_normalize(?)", [src]
            ).fetchone()
            assert row.text_norm == expected

    def test_nfkc_folds_compatibility_forms(self, spark):
        # fullwidth H/e, circled one, fi ligature
        src = "Ｈｅllo ① ﬁne"
        rows = textnorm.normalize_text(_df(spark, [src]), form="NFKC").collect()
        assert rows[0].text_norm == unicodedata.normalize("NFKC", src)
        assert rows[0].changed

    def test_null_text_passes_through(self, spark):
        df = spark.createDataFrame([(0, None)], "doc_id long, text string")
        row = textnorm.normalize_text(df).collect()[0]
        assert row.text_norm is None and row.changed is False

    def test_invalid_form_raises(self, spark):
        with pytest.raises(ValueError):
            textnorm.normalize_text(_df(spark, ["x"]), form="NFX")

    def test_id_type_derived(self, spark):
        df = spark.createDataFrame(
            [("k", "Café")], "doc_id string, text string"
        )
        out = textnorm.normalize_text(df)
        assert dict(out.dtypes)["doc_id"] == "string"
        assert out.collect()[0].text_norm == "café".replace("c", "C", 1)

    def test_single_arrow_stage_no_shuffle(self, spark):
        plan = (
            textnorm.normalize_text(_df(spark, CASES))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert plan.count("MapInPandas") == 1

    def test_changed_flag_enables_sparse_rewrite(self, spark):
        out = textnorm.normalize_text(_df(spark, CASES))
        assert out.where(F.col("changed")).count() == 2
