"""URL canonicalization + recrawl dedup (operators/urlnorm.py)."""

import datetime

import pytest
from pyspark.sql import functions as F

from sciencebeam_trainer_grobid_tools_spark.operators import urlnorm
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session


@pytest.fixture(scope="module")
def spark():
    session = build_session("urlnorm-tests", cpus=4, shuffle_partitions=4)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


CASES = [
    # (raw, canonical)
    ("http://Example.COM/Path/Page", "http://example.com/Path/Page"),
    ("HTTP://A.com/x", "http://a.com/x"),  # scheme folds, path case kept
    ("http://a.com:80/x", "http://a.com/x"),
    ("https://a.com:443/x", "https://a.com/x"),
    ("http://a.com:8080/x", "http://a.com:8080/x"),  # non-default kept
    ("https://a.com:80/x", "https://a.com:80/x"),  # :80 not https default
    ("http://a.com/x#frag", "http://a.com/x"),
    ("http://a.com/x?a=1#frag", "http://a.com/x?a=1"),
    ("http://a.com/x?utm_source=tw&b=2", "http://a.com/x?b=2"),
    ("http://a.com/x?b=2&utm_source=tw", "http://a.com/x?b=2"),
    ("http://a.com/x?a=1&fbclid=F&b=2", "http://a.com/x?a=1&b=2"),
    ("http://a.com/x?utm_a=1&utm_b=2", "http://a.com/x"),
    ("http://a.com/x?UTM_SOURCE=tw", "http://a.com/x"),  # case-insensitive
    ("http://a.com/x?butm_a=1", "http://a.com/x?butm_a=1"),  # not utm_
    # '&' is a legal path char (RFC 3986 pchar): tracking-param stripping
    # must not fire before the first '?'
    ("http://a.com/path&utm_source=x", "http://a.com/path&utm_source=x"),
    ("http://a.com/p&gclid=1/q?utm_a=1&b=2", "http://a.com/p&gclid=1/q?b=2"),
    # a '?' inside a query VALUE is literal, not a new query string
    ("http://a.com/p?a=?&utm_x=1", "http://a.com/p?a=?"),
    ("http://a.com/dir/", "http://a.com/dir"),
    ("http://a.com/dir/?a=1", "http://a.com/dir?a=1"),
    ("http://a.com/", "http://a.com/"),  # root slash kept (documented)
    ("http://a.com", "http://a.com"),
    # param ORDER is preserved (documented: no sorting)
    ("http://a.com/x?b=2&a=1", "http://a.com/x?b=2&a=1"),
    # userinfo is case-SENSITIVE: preserved while host still folds
    ("http://User:Pw@Host.COM/x", "http://User:Pw@host.com/x"),
    ("ftp://USER@Files.Example.ORG/a", "ftp://USER@files.example.org/a"),
    # unparseable / schemeless: pass through
    ("not a url at all", "not a url at all"),
    ("/relative/path/", "/relative/path/"),
]


class TestCanonicalUrl:
    def test_canonicalization_table(self, spark):
        df = spark.createDataFrame(
            [(i, raw) for i, (raw, _) in enumerate(CASES)], "i int, url string"
        )
        got = {
            r["i"]: r["canonical_url"]
            for r in urlnorm.with_canonical_url(df).collect()
        }
        for i, (raw, want) in enumerate(CASES):
            assert got[i] == want, "%r -> %r, want %r" % (raw, got[i], want)

    def test_idempotent(self, spark):
        """canonical(canonical(u)) == canonical(u) — dedup keys must be
        stable under re-normalization (a re-crawled canonical URL stored
        and re-canonicalized must not drift).  Checked over the full case
        table plus adversarial shapes."""
        extra = [
            "http://a.com/p?utm_a=1&utm_b=2&c=3#f",
            "HTTP://U:P@A.com:80/Dir/?gclid=1",
            "https://a.com:443/x/y/?a=&b=?&utm_c=z",
            "http://a.com/path&utm=1/deep/?fbclid=x",
        ]
        raws = [raw for raw, _ in CASES] + extra
        df = spark.createDataFrame(
            [(i, r) for i, r in enumerate(raws)], "i int, url string"
        )
        once = urlnorm.with_canonical_url(df, out_col="c1")
        twice = once.withColumn("c2", urlnorm.canonical_url(F.col("c1")))
        for r in twice.collect():
            assert r["c1"] == r["c2"], (raws[r["i"]], r["c1"], r["c2"])

    def test_is_pure_catalyst(self, spark):
        df = spark.createDataFrame([(1, "http://a.com/x")], "i int, url string")
        plan = (
            urlnorm.with_canonical_url(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan and "Exchange" not in plan


class TestDedupByCanonicalUrl:
    def _docs(self, spark):
        t = datetime.datetime
        rows = [
            # three variants of one page, distinct warc_ts
            ("http://A.com/page?utm_source=x", t(2024, 1, 1), "old"),
            ("http://a.com/page", t(2024, 3, 1), "newest"),
            ("http://a.com/page#sec", t(2024, 2, 1), "mid"),
            # an unrelated page
            ("http://a.com/other", t(2024, 1, 1), "other"),
        ]
        return spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")

    def test_keep_latest_recrawl(self, spark):
        out = urlnorm.dedup_by_canonical_url(self._docs(spark)).collect()
        by_text = {r["text"] for r in out}
        assert by_text == {"newest", "other"}
        # original columns intact, no helper column leaks
        assert sorted(out[0].asDict()) == ["text", "url", "warc_ts"]

    def test_keep_earliest(self, spark):
        out = urlnorm.dedup_by_canonical_url(
            self._docs(spark), keep="earliest"
        ).collect()
        assert {r["text"] for r in out} == {"old", "other"}

    def test_single_shuffle(self, spark):
        plan = (
            urlnorm.dedup_by_canonical_url(self._docs(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 1

    def test_invalid_keep_raises(self, spark):
        with pytest.raises(ValueError, match="keep must be"):
            urlnorm.dedup_by_canonical_url(self._docs(spark), keep="newest")


class TestSnapshotDiff:
    def _diff(self, spark, old_rows, new_rows):
        from sciencebeam_trainer_grobid_tools_spark.operators.urlnorm import (
            snapshot_diff,
        )

        old = spark.createDataFrame(old_rows, "url string, fingerprint string")
        new = spark.createDataFrame(new_rows, "url string, fingerprint string")
        return {
            r.url: (r.status, r.old_fingerprint, r.new_fingerprint)
            for r in snapshot_diff(old, new).collect()
        }

    def test_all_four_statuses(self, spark):
        got = self._diff(
            spark,
            [("u1", "a"), ("u2", "b"), ("u3", "c")],
            [("u2", "b"), ("u3", "c2"), ("u4", "d")],
        )
        assert got == {
            "u1": ("removed", "a", None),
            "u2": ("same", "b", "b"),
            "u3": ("changed", "c", "c2"),
            "u4": ("added", None, "d"),
        }

    def test_null_fingerprint_on_present_row_is_not_added(self, spark):
        # presence flags, not fingerprint nullness: a present row with a
        # missing digest must classify by presence, and NULL == NULL
        # fingerprints read as same (a missing digest is not a change)
        got = self._diff(
            spark,
            [("u1", None), ("u2", None)],
            [("u1", None), ("u2", "x")],
        )
        assert got["u1"][0] == "same"
        assert got["u2"][0] == "changed"

    def test_single_join_no_cartesian(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators.urlnorm import (
            snapshot_diff,
        )

        old = spark.createDataFrame([("u", "a")], "url string, fingerprint string")
        new = spark.createDataFrame([("u", "a")], "url string, fingerprint string")
        plan = (
            snapshot_diff(old, new)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


class TestCanonicalDedupKey:
    def _keys(self, spark, rows):
        df = spark.createDataFrame(rows, "url string, html string")
        return [
            r["k"]
            for r in df.select(
                urlnorm.canonical_dedup_key(
                    F.col("url"), F.col("html")
                ).alias("k")
            ).collect()
        ]

    def test_declared_canonical_wins_and_is_normalized(self, spark):
        keys = self._keys(
            spark,
            [
                (
                    "http://amp.site.com/a/amp",
                    "<LINK REL=canonical "
                    "HREF='http://WWW.site.com/a/?utm_campaign=x&q=1'>",
                ),
                ("http://WWW.site.com/a/?utm_source=y&q=1", ""),
            ],
        )
        # AMP variant and crawled variant fold to the SAME key
        assert keys[0] == keys[1] == "http://www.site.com/a?q=1"

    def test_no_hint_falls_back_to_canonical_url(self, spark):
        keys = self._keys(
            spark, [("http://Site.com/b#frag", "<html>no link tags</html>")]
        )
        assert keys == ["http://site.com/b"]

    def test_pure_codegen(self, spark):
        df = spark.createDataFrame([("u", "h")], "url string, html string")
        plan = (
            df.select(urlnorm.canonical_dedup_key(F.col("url"), F.col("html")))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


class TestStagedCanonicalKey:
    """The staged column graph must be value-identical to the nested
    Column form it replaces (the nested canonical_hint key blew Janino's
    64 KB method limit when fused into one codegen region — the staged
    graph exists purely so the stage compiles; values may never drift)."""

    _URLS = [
        "http://WWW.Example.COM/x/y/",
        "https://host.com:443/p?a=1&utm_source=z&b=2",
        "http://host.com:80/p?gclid=g",
        "http://user:PA@ss@HOST.com/q?fbclid=f&k=1#frag",
        "HTTPS://a.b.c.de/?utm_x=1",
        "not a url at all",
        "ftp://Mixed.Case/path/",
        "http://h.com/p?&a=1",
        "http://h.com/p?",
        "http://h.com/",
    ]
    _HTMLS = [
        "",
        "<html><head><LINK REL=canonical "
        "HREF='http://WWW.Foo.com/x/?utm_campaign=c'></head>",
        '<link rel="canonical" href="HTTPS://bar.COM:443/y?gclid=1&k=2#z">',
        "<link rel=stylesheet href=/css><link rel=canonical href=http://q.com/a/>",
        "<p>no link</p>",
    ]

    def _df(self, spark):
        rows = [
            (i, u, h, i % 3)
            for i, (u, h) in enumerate(
                (u, h) for u in self._URLS for h in self._HTMLS
            )
        ]
        return spark.createDataFrame(
            rows, "doc_id long, url string, html string, warc_ts long"
        )

    def test_staged_canonical_equals_nested(self, spark):
        df = self._df(spark)
        staged, _ = urlnorm._with_staged_canonical(
            df, F.col("url"), "staged", "_t"
        )
        bad = (
            staged.withColumn("nested", urlnorm.canonical_url(F.col("url")))
            .filter(~F.col("staged").eqNullSafe(F.col("nested")))
            .count()
        )
        assert bad == 0

    def test_staged_hint_key_equals_nested(self, spark):
        df = self._df(spark)
        keyed, _ = urlnorm._with_staged_dedup_key(df, "url", "html", "k")
        bad = (
            keyed.withColumn(
                "nested",
                urlnorm.canonical_dedup_key(F.col("url"), F.col("html")),
            )
            .filter(~F.col("k").eqNullSafe(F.col("nested")))
            .count()
        )
        assert bad == 0

    def test_dedup_html_col_matches_key_path(self, spark):
        df = self._df(spark)
        a = urlnorm.dedup_by_canonical_url(df, html_col="html").orderBy(
            "doc_id"
        ).collect()
        b = urlnorm.dedup_by_canonical_url(
            df, key=urlnorm.canonical_dedup_key(F.col("url"), F.col("html"))
        ).orderBy("doc_id").collect()
        assert a == b
        # schema unchanged: no staged temp columns leak
        assert [f.name for f in urlnorm.dedup_by_canonical_url(
            df, html_col="html"
        ).schema.fields] == ["doc_id", "url", "html", "warc_ts"]

    def test_key_and_html_col_mutually_exclusive(self, spark):
        df = self._df(spark)
        import pytest as _pytest
        with _pytest.raises(ValueError):
            urlnorm.dedup_by_canonical_url(
                df, key=F.col("url"), html_col="html"
            )

    def test_temp_column_collision_raises_named_error(self, spark):
        df = self._df(spark).withColumnRenamed("doc_id", "_ck_hintc")
        df = df.withColumn("_CKU_u1", F.lit(1)).withColumn("_ckh_qs", F.lit(2))
        with pytest.raises(urlnorm.TempColumnCollisionError) as err:
            urlnorm.dedup_by_canonical_url(df, ts_col="warc_ts", html_col="html")
        assert "_ck_hintc, _CKU_u1, _ckh_qs" in str(err.value)
        assert isinstance(err.value, ValueError)
        # url mode stages only _cku_* columns
        with pytest.raises(urlnorm.TempColumnCollisionError, match="_CKU_u1"):
            urlnorm.dedup_by_canonical_url(df.drop("_ck_hintc", "_ckh_qs"))
        with pytest.raises(urlnorm.TempColumnCollisionError, match="_rn"):
            urlnorm.dedup_by_canonical_url(self._df(spark).withColumn("_rn", F.lit(0)))
        keyed, _ = urlnorm._with_staged_dedup_key(
            df.drop("_ck_hintc", "_ckh_qs", "_CKU_u1"), "url", None, "k"
        )
        assert "k" in keyed.columns
