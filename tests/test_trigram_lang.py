"""Trigram-profile language ID (operators/textstats.py): hand-computed
counts, natural-language classification, deterministic tie-break, plan
shape."""

import pytest
from pyspark.sql import functions as F

from sciencebeam_trainer_grobid_tools_spark.operators import textstats as ts
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session


@pytest.fixture(scope="module")
def spark():
    session = build_session("trigram-tests", cpus=4, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


SAMPLES = [
    (0, "The quick brown fox and the lazy dog are running to the store."),
    (1, "Der Hund und die Katze sind nicht in der Schule und ich gehe."),
    (2, "Le chat et le chien sont dans la maison et il fait beau ce matin."),
    (3, "El perro y el gato que viven en la casa de los abuelos y hablan."),
    (4, ""),
    (5, "zzz qqq vvv"),
    # self-overlapping profile trigram (' y ' in 'y y y'): overlapping
    # window occurrences MUST collapse to the non-overlapping count the
    # expression path's replace-length idiom produces
    (6, "casa y y del perro"),
    (7, "la cosa y y y y del toro"),
]


def _df(spark, rows=SAMPLES):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestSubstringCount:
    def test_hand_computed(self, spark):
        df = spark.createDataFrame([("the theatre thermos",)], "t string")
        got = df.select(
            ts.substring_count(F.col("t"), "the").alias("c")
        ).collect()[0].c
        assert got == 3.0

    def test_non_overlapping_semantics(self, spark):
        df = spark.createDataFrame([("aaaa",)], "t string")
        got = df.select(ts.substring_count(F.col("t"), "aa").alias("c")).collect()
        assert got[0].c == 2.0  # replace is non-overlapping in both engines


class TestTrigramLangId:
    def test_natural_language_classification(self, spark):
        got = {
            r.doc_id: r.lang
            for r in _df(spark)
            .select("doc_id", ts.trigram_lang_id(F.col("text")).alias("lang"))
            .collect()
        }
        assert {k: got[k] for k in range(6)} == {
            0: "en", 1: "de", 2: "fr", 3: "es", 4: "unknown", 5: "unknown"
        }
        assert got[6] == "es" and got[7] == "es"

    def test_beats_marker_heuristic_on_short_text(self, spark):
        # no full marker WORD present, but trigram evidence abounds
        df = _df(spark, [(0, "running things ingeniously")])
        marker = df.select(ts.lang_id(F.col("text")).alias("l")).collect()[0].l
        tri = df.select(ts.trigram_lang_id(F.col("text")).alias("l")).collect()[0].l
        assert marker == "unknown" and tri == "en"

    def test_tie_breaks_to_sorted_first(self, spark):
        # ' de' (and nothing else) scores weight 3 for de, es and fr
        # alike -> tie -> sorted-first 'de'
        df = _df(spark, [(0, "xq deq")])
        scores = ts.trigram_lang_scores(F.col("text"))
        row = df.select(
            ts.trigram_lang_id(F.col("text")).alias("lang"),
            *(scores[l].alias(l) for l in sorted(scores)),
        ).collect()[0]
        assert row.de == row.es == row.fr > 0
        assert row.lang == "de"

    def test_expression_path_plan_is_pure_codegen(self, spark):
        plan = (
            _df(spark)
            .select(ts.trigram_lang_id(F.col("text")).alias("l"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
