"""Web-corpus heuristic filters: Gopher rules, C4 cleaning, hashed
classifier.  Every expectation is hand-computed from the published rule
definitions (Rae et al. 2021 App. A; Raffel et al. 2020 §2.2; Joulin et
al. 2016) on planted documents."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from sciencebeam_trainer_grobid_tools_spark.operators import webfilters
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session


@pytest.fixture(scope="module")
def spark():
    session = build_session("webfilter-tests", cpus=4, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


GOOD = (
    "the quick brown fox jumps over the lazy dog and runs to the river "
    "bank every single day with great joy and then it sleeps under a tall "
    "tree near the old farm house that the farmer built with his own two "
    "hands many years ago before the town grew large and busy around it"
)  # 55 words, all alphabetic, 'the'/'to'/'and'/'with' stopwords


def _rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _features(df):
    """The Gopher ``g_*`` and C4 ``c4_*`` columns at the published
    thresholds."""
    return webfilters.web_filter_features(df, classifier=False)


class TestGopher:
    def test_good_document_keeps(self, spark):
        got = _features(_rows(spark, [(1, GOOD)])).collect()[0]
        assert got["g_words"] == 55
        assert got["g_symbol_ratio"] == 0.0
        assert got["g_alpha_ratio"] == 1.0
        assert got["g_stopword_hits"] >= 4
        assert got["g_keep"] is True

    def test_word_count_band(self, spark):
        got = _features(
            _rows(spark, [(1, "too short to pass the fifty word minimum")])
        ).collect()[0]
        assert got["g_words"] == 8
        assert got["g_keep"] is False

    def test_symbol_ratio_counts_hashes_and_ellipses(self, spark):
        # 5 words; '#' + '##' (two matches) + '...' = 4 symbol hits
        got = _features(
            _rows(spark, [(1, "alpha # beta ## more...")])
        ).collect()[0]
        assert got["g_symbol_ratio"] == round(4 / 5, 6)
        assert got["g_keep"] is False

    def test_bullet_and_ellipsis_line_ratios(self, spark):
        text = "- first bullet\n* second bullet\nplain line\ntrailing thought..."
        got = _features(_rows(spark, [(1, text)])).collect()[0]
        assert got["g_bullet_ratio"] == 0.5
        assert got["g_ellipsis_ratio"] == 0.25

    def test_alpha_ratio_and_stopwords(self, spark):
        got = _features(
            _rows(spark, [(1, "123 456 789 word")])
        ).collect()[0]
        assert got["g_alpha_ratio"] == 0.25
        assert got["g_stopword_hits"] == 0

    def test_empty_document_no_divide_by_zero(self, spark):
        got = _features(_rows(spark, [(1, "")])).collect()[0]
        assert got["g_words"] == 0
        assert got["g_mean_word_len"] == 0.0
        assert got["g_keep"] is False

    def test_rethresholding_uses_emitted_columns(self, spark):
        """Thresholds compare the ROUNDED emitted statistics (documented):
        loosening min_words re-admits the short doc."""
        df = _rows(spark, [(1, "five of the and that have words with be to")])
        assert _features(df).collect()[0]["g_keep"] is False
        assert webfilters.gopher_filter(df, min_words=5).count() == 1


class TestC4Clean:
    TEXT = (
        "This is a proper sentence with enough words in it.\n"
        "short line.\n"
        "A line using javascript should always be dropped here.\n"
        "no terminal punctuation on this line at all\n"
        'He said the quoted line counts as a real sentence too."\n'
        "Another good closing sentence finishes the page cleanly!"
    )

    def test_line_rules(self, spark):
        got = _features(_rows(spark, [(1, self.TEXT)])).collect()[0]
        assert got["c4_total_lines"] == 6
        # kept: line 1, quoted line, final line
        assert got["c4_kept_lines"] == 3
        kept_lines = got["clean_text"].split("\n")
        assert kept_lines[0].startswith("This is a proper")
        assert all("javascript" not in ln for ln in kept_lines)

    def test_page_rules(self, spark):
        rows = [
            (1, self.TEXT),  # keeps: 3+ sentences, no brace/lorem
            (2, self.TEXT + "\nvar x = { a: 1 };"),  # brace
            (3, self.TEXT.replace("proper", "Lorem Ipsum filler")),  # lorem
            (4, "One sentence only here and it is long enough."),  # < 3 sentences
        ]
        got = {r["doc_id"]: r for r in _features(_rows(spark, rows)).collect()}
        assert got[1]["c4_keep"] is True
        assert got[2]["c4_has_brace"] is True and got[2]["c4_keep"] is False
        assert got[3]["c4_has_lorem"] is True and got[3]["c4_keep"] is False
        assert got[4]["c4_sentences"] == 1 and got[4]["c4_keep"] is False

    def test_no_surviving_lines_yields_empty_string_not_null(self, spark):
        got = _features(_rows(spark, [(1, "tiny.\nno")])).collect()[0]
        assert got["c4_kept_lines"] == 0
        assert got["clean_text"] == ""
        assert got["c4_keep"] is False


def _py_bucket(tok: str, b: int = 64) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % b


def _py_weight(bucket: int) -> float:
    h = hashlib.md5(("w%d" % bucket).encode()).hexdigest()[:8]
    return int(h, 16) / float(16 ** 8) - 0.5


class TestHashedClassifier:
    def test_derived_weights_match_python_reference(self, spark):
        text = "the quick brown fox the quick"
        got = webfilters.hashed_classifier_score(_rows(spark, [(1, text)])).collect()[0]
        toks = text.split()
        mean_w = sum(_py_weight(_py_bucket(t)) for t in toks) / len(toks)
        want = 1.0 / (1.0 + math.exp(-mean_w))
        assert got["clf_tokens"] == 6
        assert got["clf_score"] == round(want, 6)
        assert got["clf_keep"] is (want >= 0.5)

    def test_trained_weights_broadcast_join(self, spark):
        text = "alpha beta alpha"
        buckets = {_py_bucket(t) for t in text.split()}
        weights = spark.createDataFrame(
            [(b, 2.0) for b in buckets], "bucket long, weight double"
        )
        got = webfilters.hashed_classifier_score(
            _rows(spark, [(1, text)]), weights=weights
        ).collect()[0]
        # every token weight 2.0 -> mean 2.0 -> sigmoid(2)
        assert got["clf_score"] == round(1.0 / (1.0 + math.exp(-2.0)), 6)
        assert got["clf_keep"] is True

    def test_unmatched_bucket_coalesces_to_zero(self, spark):
        weights = spark.createDataFrame([(9999, 5.0)], "bucket long, weight double")
        got = webfilters.hashed_classifier_score(
            _rows(spark, [(1, "alpha beta")]), weights=weights, num_buckets=64
        ).collect()[0]
        assert got["clf_score"] == 0.5  # all weights 0 -> sigmoid(0)

    def test_zero_token_document_absent(self, spark):
        got = webfilters.hashed_classifier_score(
            _rows(spark, [(1, ""), (2, "real words here")])
        ).collect()
        assert [r["doc_id"] for r in got] == [2]

    def test_plan_stays_jvm_side(self, spark):
        """Derived-weight inference must be pure codegen + one aggregation:
        no Python stage (BatchEvalPython/ArrowEvalPython) in the plan."""
        plan = webfilters.hashed_classifier_score(
            _rows(spark, [(1, "a b c")])
        )._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan

    def test_gopher_c4_zero_shuffle(self, spark):
        """Gopher + C4 are per-row filters: no Exchange in either plan."""
        df = _rows(spark, [(1, GOOD)])
        for fn in (webfilters.gopher_filter, webfilters.c4_filter):
            plan = fn(df)._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, fn.__name__


class TestWebFilterFeatures:
    def test_matches_individual_operators(self, spark):
        df = _rows(spark, [(1, "The quick brown fox runs to the barn."), (2, "")])
        combo = {r["doc_id"]: r for r in webfilters.web_filter_features(df).collect()}
        rules = {r["doc_id"]: r for r in _features(df).collect()}
        g_kept = {r["doc_id"] for r in webfilters.gopher_filter(df).collect()}
        c4_kept = {r["doc_id"]: r["text"] for r in webfilters.c4_filter(df).collect()}
        clf = {r["doc_id"]: r for r in webfilters.hashed_classifier_score(df).collect()}
        for i in (1, 2):
            for col in ("g_words", "g_mean_word_len", "g_keep", "c4_kept_lines",
                        "c4_sentences", "c4_keep", "clean_text"):
                assert combo[i][col] == rules[i][col], (i, col)
            assert combo[i]["g_keep"] == (i in g_kept), i
            assert combo[i]["c4_keep"] == (i in c4_kept), i
            if i in c4_kept:
                assert combo[i]["clean_text"] == c4_kept[i], i
        assert combo[1]["clf_score"] == clf[1]["clf_score"]
        assert combo[2]["clf_score"] is None  # zero-token: LEFT join null

    def test_rule_families_share_one_scan(self, spark):
        """Gopher + C4 signals must come from ONE projection: with the
        classifier off the plan has no join and no shuffle at all."""
        df = _rows(spark, [(1, GOOD)])
        plan = (
            webfilters.web_filter_features(df, classifier=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "Join" not in plan

    def test_derived_weight_plan_is_one_projection(self, spark):
        """r11: with derived weights the classifier fold is in-row (the
        weight table is a plan-time constant), so the WHOLE feature query
        is one scan + one projection — no join, no Exchange, no Python."""
        df = _rows(spark, [(1, GOOD)])
        plan = (
            webfilters.web_filter_features(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in plan and "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_trained_weight_path_still_joins(self, spark):
        """Trained weights arrive as data, so that path keeps the
        aggregate + broadcast LEFT join shape."""
        w = spark.createDataFrame([(0, 0.5)], "bucket long, weight double")
        plan = (
            webfilters.web_filter_features(_rows(spark, [(1, GOOD)]), weights=w)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Join") >= 1
        assert "EvalPython" not in plan

    def test_inline_matches_explode_classifier(self, spark):
        """The in-row classifier fold must reproduce the explode+aggregate
        form exactly (rounded score, token count, keep) on a corpus with
        varied token counts incl. empties."""
        rows = [(i, " ".join("w%d tok%d the" % (j, i * 7 + j) for j in range(i % 9)))
                for i in range(40)]
        df = _rows(spark, rows)
        exploded = {
            r["doc_id"]: (r["clf_tokens"], r["clf_score"], r["clf_keep"])
            for r in webfilters.hashed_classifier_score(df).collect()
        }
        inline_cols = webfilters.inline_classifier_columns(F.col("text"))
        inline = {
            r["doc_id"]: (r["clf_tokens"], r["clf_score"], r["clf_keep"])
            for r in df.select(
                "doc_id", *(e.alias(n) for n, e in inline_cols.items())
            ).collect()
            if r["clf_tokens"] is not None
        }
        assert inline == exploded
