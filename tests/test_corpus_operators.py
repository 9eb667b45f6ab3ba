"""Corpus-scale operator tests: dedup, similarity, textstats, resumable
execution."""

import math

import pytest
from pyspark.sql import functions as F

from sciencebeam_trainer_grobid_tools_spark.operators import dedup, similarity, textstats
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session


@pytest.fixture(scope="module")
def spark():
    session = build_session("operator-tests", cpus=4, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, base.replace("today", "tonight")),  # near-duplicate of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "ein kurzer text der nicht englisch ist und anders aussieht"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


_MINHASH_FAMILIES = [dedup.minhash_candidate_pairs, dedup.portable_minhash_pairs]


class TestDedup:
    def test_minhash_finds_near_duplicates(self, docs):
        pairs = {
            (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
            for r in dedup.minhash_candidate_pairs(
                docs, k=3, num_hashes=16, bands=8
            ).collect()
        }
        assert pairs.get((0, 1)) == 1.0
        assert (0, 3) not in pairs
        near = pairs.get((0, 2)) or pairs.get((1, 2))
        assert near is not None and 0.3 < near < 1.0

    def test_minhash_uncached_single_shingle_pass(self, spark):
        """Plan pin for the single-pass shape, on both hash families: the
        pruning-barrier terms keep every consumer's copy of the
        sig/shingles aggregate canonically identical, so AQE executes ONE
        shuffle stage (the source is scanned and shingled once) and the
        other consumers are ReusedExchange.  If a future optimizer folds
        the zero terms this degrades to the two-pass shape — this test is
        the tripwire."""
        import re

        # fresh rows, NOT the shared ``docs`` fixture, so no cached plan
        # from another test can be substituted into this one
        base = "one two three four five six seven eight nine ten"
        local = spark.createDataFrame(
            [(0, base), (1, base), (2, base.replace("ten", "eleven"))],
            "doc_id long, text string",
        )
        for pairs_fn in _MINHASH_FAMILIES:
            df = pairs_fn(local, k=3, num_hashes=16, bands=8)
            df.collect()
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            final = plan.split("== Initial Plan ==")[0]
            scans = len(re.findall(r"Scan ExistingRDD|LocalTableScan", final))
            reused = len(re.findall(r"\bReusedExchange\b", final))
            assert scans == 1, "%s: corpus must be scanned once, saw %d:\n%s" % (
                pairs_fn.__name__,
                scans,
                final,
            )
            assert reused >= 3, "%s: expected >=3 ReusedExchange, saw %d:\n%s" % (
                pairs_fn.__name__,
                reused,
                final,
            )

    @pytest.mark.parametrize(
        "pairs_fn", _MINHASH_FAMILIES, ids=lambda fn: fn.__name__
    )
    def test_minhash_null_and_empty_text_pair(self, spark, pairs_fn):
        """NULL text tokenizes like '' (one empty shingle), so NULL and
        empty documents pair with each other at Jaccard 1.0 — and with
        nothing else."""
        df = spark.createDataFrame(
            [(0, None), (1, ""), (2, "some real text with five tokens")],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
            for r in pairs_fn(df, k=3, num_hashes=16, bands=8).collect()
        }
        assert got == {(0, 1): 1.0}

    def test_portable_minhash_jaccard_equals_word_shingles(self, spark, docs):
        """The md5 family's shingle ``g`` is exactly a ``word_shingles``
        element: every portable pair's Jaccard equals the exact n-gram
        baseline's for the same pair, on the fixture plus edge rows (NULL,
        '', fewer than k tokens, whitespace runs, mixed case, repeats)."""
        base = "the quick brown fox jumps over the lazy dog near the river bank today"
        edge = spark.createDataFrame(
            [
                (100, None),
                (101, ""),
                (102, "two tokens"),
                (103, "two tokens"),
                (104, "  spaced   out\n\ntext  here  "),
                (105, base.upper()),
                (106, "a a a a a a a a a"),
                (107, "a a a a a a a a a a a a"),
            ],
            "doc_id long, text string",
        )
        frame = docs.unionByName(edge)
        for k in (2, 3, 5):
            want = {
                (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
                for r in dedup.ngram_jaccard_pairs(
                    frame, k=k, min_jaccard=0.0
                ).collect()
            }
            # one row per band: any shared minimum makes a candidate
            got = dedup.portable_minhash_pairs(
                frame, k=k, num_hashes=16, bands=16
            ).collect()
            assert len(got) >= 8, (k, got)
            assert any(0.0 < r["jaccard"] < 1.0 for r in got), (k, got)
            for r in got:
                pair = (r["doc_id_a"], r["doc_id_b"])
                assert r["jaccard"] == want[pair], (k, pair, r["jaccard"], want[pair])

    def test_ngram_jaccard_exact_baseline(self, docs):
        pairs = {
            (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, k=3, min_jaccard=0.3).collect()
        }
        assert pairs[(0, 1)] == 1.0

class TestDuplicateClusters:
    """Connected components over near-dup pairs (large-star/small-star,
    Kiveris et al. 2014): transitive closure of the pair relation, label
    = smallest member id."""

    @staticmethod
    def _union_find(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        out = {}
        for members in comp.values():
            m = min(members)
            for n in members:
                out[n] = m
        return out

    def test_transitive_chain_and_noise_rows(self, spark):
        """a~b, b~c must land in ONE cluster; self-pairs and null ids are
        dropped without poisoning the label table."""
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (5, 5), (None, 7), (7, None)],
            "doc_id_a long, doc_id_b long",
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_long_path_converges_to_one_component(self, spark):
        """A diameter-61 path is the worst case for naive min-label
        propagation; the star rounds must still collapse it (and do so
        inside the documented O(log n) bound, far under max_iter)."""
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(60)], "doc_id_a long, doc_id_b long"
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(pairs).collect()
        }
        assert len(got) == 61 and set(got.values()) == {0}

    def test_random_graphs_match_union_find(self, spark):
        import random

        rnd = random.Random(42)
        for _ in range(2):
            edges = [
                (rnd.randrange(80), rnd.randrange(80)) for _ in range(60)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            nodes = sorted({x for e in edges for x in e})
            want = self._union_find(edges, nodes)
            pairs = spark.createDataFrame(
                edges, "doc_id_a long, doc_id_b long"
            )
            got = {
                r["doc_id"]: r["cluster_id"]
                for r in dedup.duplicate_clusters(pairs).collect()
            }
            assert got == want

    def test_empty_pairs_keep_schema(self, spark):
        out = dedup.duplicate_clusters(
            spark.createDataFrame([], "doc_id_a long, doc_id_b long")
        )
        assert out.columns == ["doc_id", "cluster_id"]
        assert out.count() == 0

class TestRemoveRepeatedSpans:
    """Exact-substring dedup (ExactSubstr rule): drop every token inside a
    >= k-token span that occurs >= 2 times corpus-wide."""

    def _corpus(self, spark):
        rows = [
            (1, "alpha beta gamma delta unique one two three"),
            (2, "other words alpha beta gamma delta trailing bits"),
            (3, "totally fresh content with no repeats at all"),
            (4, "self repeat self repeat self repeat zzz"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cross_doc_and_self_repeats(self, spark):
        out = {
            r["doc_id"]: r
            for r in dedup.remove_repeated_spans(self._corpus(spark), k=4).collect()
        }
        # docs 1/2 share the 4-gram 'alpha beta gamma delta' -> stripped
        # from BOTH (all occurrences drop, documented rule)
        assert out[1]["clean_text"] == "unique one two three"
        assert out[2]["clean_text"] == "other words trailing bits"
        # doc 3 has no >= 4-token repeat anywhere
        assert out[3]["n_tokens_removed"] == 0
        # doc 4 self-repeats 'self repeat self repeat' (pos 1 and 3):
        # tokens 1-6 covered, only the tail survives
        assert out[4]["clean_text"] == "zzz"
        assert out[4]["n_tokens_before"] == 7

    def test_exact_duplicate_docs_empty_out(self, spark):
        text = " ".join("tok%d" % i for i in range(12))
        df = spark.createDataFrame(
            [(1, text), (2, text)], "doc_id long, text string"
        )
        out = dedup.remove_repeated_spans(df, k=8).collect()
        assert all(r["clean_text"] == "" for r in out)
        assert all(r["n_tokens_removed"] == 12 for r in out)

    def test_short_docs_pass_through(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
        )
        # both docs are shorter than k: no k-gram exists, nothing removed
        out = dedup.remove_repeated_spans(df, k=8).collect()
        assert all(r["n_tokens_removed"] == 0 for r in out)
        assert {r["clean_text"] for r in out} == {"a b c"}

    def test_case_sensitive_exact_matching(self, spark):
        df = spark.createDataFrame(
            [(1, "The Quick Brown Fox pads"), (2, "the quick brown fox walks")],
            "doc_id long, text string",
        )
        out = dedup.remove_repeated_spans(df, k=4).collect()
        assert all(r["n_tokens_removed"] == 0 for r in out)

    def test_jvm_only_plan(self, spark):
        plan = (
            dedup.remove_repeated_spans(self._corpus(spark), k=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan  # codegen grams + HOF rebuild, no UDF

    def test_differential_vs_bruteforce(self, spark):
        """Seeded-random corpus over a tiny alphabet (dense collisions:
        overlapping, adjacent, self- and cross-doc duplicated spans) vs an
        independent brute-force oracle — one Spark job for all docs."""
        import random

        rng = random.Random(1234)
        k = 3
        docs = [
            (i, [rng.choice("abcd") for _ in range(rng.randint(0, 14))])
            for i in range(40)
        ]

        grams = {}
        for doc_id, toks in docs:
            for p in range(len(toks) - k + 1):
                grams.setdefault(tuple(toks[p : p + k]), []).append((doc_id, p))
        covered = {doc_id: set() for doc_id, _ in docs}
        for positions in grams.values():
            if len(positions) < 2:
                continue
            for doc_id, p in positions:
                covered[doc_id].update(range(p, p + k))
        expected = {
            doc_id: " ".join(t for j, t in enumerate(toks) if j not in covered[doc_id])
            for doc_id, toks in docs
        }

        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in docs], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r
            for r in dedup.remove_repeated_spans(df, k=k).collect()
        }
        for doc_id, toks in docs:
            assert got[doc_id]["clean_text"] == expected[doc_id], doc_id
            assert got[doc_id]["n_tokens_removed"] == len(covered[doc_id])


class TestRemoveCommonLines:
    """Boilerplate line-level dedup (CCNet/RefinedWeb granularity)."""

    def test_planted_boilerplate(self, spark):
        rows = [
            (1, "unique one\nSubscribe now\nbody text a"),
            (2, "different stuff\nSubscribe now\nbody text b"),
            (3, "Subscribe now"),
            (4, "all original\ncontent here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dedup.remove_common_lines(df).collect()}
        assert out[1]["clean_text"] == "unique one\nbody text a"
        assert out[2]["clean_text"] == "different stuff\nbody text b"
        # a fully-boilerplate doc is emptied, never silently dropped
        assert out[3]["clean_text"] == "" and out[3]["n_lines_removed"] == 1
        assert out[4]["n_lines_removed"] == 0

    def test_differential_vs_duckdb(self, spark):
        """Seeded corpus with organic line collisions vs a DuckDB replica
        of the whole construction (count distinct docs per exact line,
        drop >= 2, reassemble in order)."""
        import random

        import duckdb

        rng = random.Random(55)
        pool = ["header %d" % i for i in range(6)] + ["body %d" % i for i in range(40)]
        rows = [
            (i, "\n".join(rng.choice(pool) for _ in range(rng.randint(1, 8))))
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_lines_removed"], r["clean_text"])
            for r in dedup.remove_common_lines(df).collect()
        }
        con = duckdb.connect()
        con.register("docs", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
        exp_rows = con.sql("""
            WITH lines AS (
                SELECT doc_id, i AS pos, string_split(text, chr(10))[i] AS line
                FROM (SELECT doc_id, text,
                             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i
                      FROM docs)
            ),
            common AS (
                SELECT line FROM lines GROUP BY line
                HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            kept AS (
                SELECT l.* FROM lines l
                WHERE NOT EXISTS (SELECT 1 FROM common c WHERE c.line = l.line)
            ),
            rebuilt AS (
                SELECT doc_id, COUNT(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   len(string_split(d.text, chr(10))) - COALESCE(r.n_kept, 0)
                       AS n_removed,
                   COALESCE(r.clean_text, '') AS clean_text
            FROM docs d LEFT JOIN rebuilt r USING (doc_id)
        """).fetchall()
        expected = {r[0]: (r[1], r[2]) for r in exp_rows}
        assert got == expected

    def test_jvm_only_plan(self, spark):
        df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
        plan = (
            dedup.remove_common_lines(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan


class TestPerplexityBuckets:
    def _scored(self, spark):
        rows = [(i, "en" if i < 9 else "fr", float(i)) for i in range(12)]
        return spark.createDataFrame(
            rows, "doc_id long, lang string, avg_neg_logprob double"
        )

    def test_modes_agree_on_even_split(self, spark):
        a = {
            r["doc_id"]: r["ppl_bucket"]
            for r in textstats.perplexity_buckets(
                self._scored(spark), mode="cutoffs"
            ).collect()
        }
        b = {
            r["doc_id"]: r["ppl_bucket"]
            for r in textstats.perplexity_buckets(
                self._scored(spark), mode="ntile"
            ).collect()
        }
        assert a == b
        # per-lang head/middle/tail thirds, bucket 1 = best (lowest score)
        assert [a[i] for i in range(9)] == [1, 1, 1, 2, 2, 2, 3, 3, 3]
        assert [a[9], a[10], a[11]] == [1, 2, 3]

    def test_cutoffs_mode_has_no_window(self, spark):
        df = textstats.perplexity_buckets(self._scored(spark), mode="cutoffs")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan  # the scale claim

    def test_approx_mode_agrees_when_sketch_is_exact(self, spark):
        # approx_percentile with rank error <= n/accuracy is exact for
        # n << accuracy, so the sketch mode reproduces the exact-cutoff
        # buckets on a small corpus — the mode-agreement contract
        exact = {
            r["doc_id"]: r["ppl_bucket"]
            for r in textstats.perplexity_buckets(
                self._scored(spark), mode="cutoffs"
            ).collect()
        }
        approx = {
            r["doc_id"]: r["ppl_bucket"]
            for r in textstats.perplexity_buckets(
                self._scored(spark), mode="cutoffs_approx"
            ).collect()
        }
        assert approx == exact

    def test_approx_mode_is_sketch_aggregated_no_window(self, spark):
        # the SCALE claim: the cutoff aggregation is approx_percentile's
        # fixed-size sketch (partial-aggregable), and there is no window
        df = textstats.perplexity_buckets(
            self._scored(spark), mode="cutoffs_approx", accuracy=500
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "approx_percentile" in plan
        assert "partial_approx_percentile" in plan  # map-side combine

    def test_approx_mode_coarse_sketch_still_three_buckets(self, spark):
        # a deliberately coarse sketch may move boundary rows between
        # adjacent buckets but must still produce the full label range
        rows = [(i, "en", float(i)) for i in range(300)]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, avg_neg_logprob double"
        )
        out = textstats.perplexity_buckets(
            df, mode="cutoffs_approx", accuracy=50
        ).collect()
        assert len(out) == 300
        labels = {r["ppl_bucket"] for r in out}
        assert labels == {1, 2, 3}
        # boundary drift is bounded: each bucket within n/accuracy = 6
        # ranks of the exact third (100 docs)
        from collections import Counter

        sizes = Counter(r["ppl_bucket"] for r in out)
        assert all(abs(sizes[b] - 100) <= 6 for b in (1, 2, 3)), sizes

    def test_null_stratum_survives(self, spark):
        rows = [(i, None, float(i)) for i in range(6)]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, avg_neg_logprob double"
        )
        out = textstats.perplexity_buckets(df, mode="cutoffs").collect()
        assert len(out) == 6
        assert sorted(r["ppl_bucket"] for r in out) == [1, 1, 2, 2, 3, 3]

    def test_invalid_mode_raises(self, spark):
        with pytest.raises(ValueError, match="mode must be"):
            textstats.perplexity_buckets(self._scored(spark), mode="tiles")


class TestBpe:
    """Corpus-scale BPE training vs a pure-python Sennrich reference."""

    @staticmethod
    def _ref_train(word_counts, n_merges, min_pair_count=2):
        vocab = {tuple(list(w) + ["</w>"]): n for w, n in word_counts.items()}
        merges = []
        for _ in range(n_merges):
            pairs = {}
            for syms, n in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] = (
                        pairs.get((syms[i], syms[i + 1]), 0) + n
                    )
            if not pairs:
                break
            c, a, b = min((-c, a, b) for (a, b), c in pairs.items())
            if -c < min_pair_count:
                break
            merges.append((a, b))
            new_vocab = {}
            for syms, n in vocab.items():
                i, out = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
            vocab = new_vocab
        return merges

    def test_textbook_example(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        df = spark.createDataFrame(
            [(1, "low lower lowest low low"), (2, "newer newest new low")],
            "doc_id long, text string",
        )
        merges = bpe.bpe_train_collected(df, n_merges=3)
        assert merges == [("l", "o"), ("lo", "w"), ("low", "</w>")]

    def test_differential_vs_reference(self, spark):
        import random

        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        rng = random.Random(21)
        pool = ["river", "riverbank", "banker", "rank", "ranker", "ink", "rivet"]
        rows = [
            (i, " ".join(rng.choice(pool) for _ in range(rng.randint(3, 10))))
            for i in range(25)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        word_counts = {}
        for _, text in rows:
            for w in text.split():
                word_counts[w] = word_counts.get(w, 0) + 1
        for n_merges in (5, 12):
            got = bpe.bpe_train_collected(df, n_merges=n_merges)
            want = self._ref_train(word_counts, n_merges)
            assert got == want, n_merges
        # encoded lengths agree with the reference segmentation lengths
        merges = bpe.bpe_train_collected(df, n_merges=12)
        n_subwords = {
            r["doc_id"]: len(r["token_ids"])
            for r in bpe.bpe_encode(
                df, merges, bpe.bpe_vocab_table(df, merges)
            ).collect()
        }

        def ref_encode_len(word):
            syms = list(word) + ["</w>"]
            for a, b in merges:
                i, out = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return len(syms)

        for doc_id, text in rows:
            assert n_subwords[doc_id] == sum(
                ref_encode_len(w) for w in text.split()
            )

    def test_early_stop_when_compressed(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
        # 'ab</w>' fully merges in 2 steps; further merges must stop early
        merges = bpe.bpe_train_collected(df, n_merges=50)
        assert len(merges) <= 3

    def test_vocab_table_layout(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        df = spark.createDataFrame(
            [(1, "low lower low"), (2, "new lower")], "doc_id long, text string"
        )
        merges = bpe.bpe_train_collected(df, n_merges=3)
        vocab = {
            r["token"]: r["token_id"]
            for r in bpe.bpe_vocab_table(df, merges, "text").collect()
        }
        # id 0 is <unk>; alphabet (distinct chars + sentinel) lexicographic
        # from 1; merged symbols follow in merge order
        assert vocab["<unk>"] == 0
        alphabet = sorted(set("lowernew") | {"</w>"})
        assert [t for t, i in sorted(vocab.items(), key=lambda kv: kv[1])] == [
            "<unk>"
        ] + alphabet + [a + b for a, b in merges]
        # ids are dense 0..N-1
        assert sorted(vocab.values()) == list(range(len(vocab)))

    def test_encode_ids_differential_vs_reference(self, spark):
        """Encoded id sequences match the pure-python reference at two
        merge budgets."""
        import random

        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        rng = random.Random(33)
        pool = ["river", "riverbank", "banker", "rank", "ranker", "ink"]
        rows = [
            (i, " ".join(rng.choice(pool) for _ in range(rng.randint(2, 8))))
            for i in range(15)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for n_merges in (4, 10):
            merges = bpe.bpe_train_collected(df, n_merges=n_merges)
            vocab_df = bpe.bpe_vocab_table(df, merges, "text")
            tok2id = {r["token"]: r["token_id"] for r in vocab_df.collect()}
            got = {
                r["doc_id"]: list(r["token_ids"])
                for r in bpe.bpe_encode(df, merges, vocab_df).collect()
            }

            def ref_ids(text):
                out = []
                for w in text.split():
                    syms = list(w) + ["</w>"]
                    for a, b in merges:
                        i, nxt = 0, []
                        while i < len(syms):
                            if (
                                i + 1 < len(syms)
                                and syms[i] == a
                                and syms[i + 1] == b
                            ):
                                nxt.append(a + b)
                                i += 2
                            else:
                                nxt.append(syms[i])
                                i += 1
                        syms = nxt
                    out.extend(tok2id[s] for s in syms)
                return out

            assert got == {i: ref_ids(t) for i, t in rows}, n_merges

    def test_encode_unseen_chars_map_to_unk(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        train = spark.createDataFrame(
            [(1, "low low lower")], "doc_id long, text string"
        )
        merges = bpe.bpe_train_collected(train, n_merges=2)
        vocab_df = bpe.bpe_vocab_table(train, merges, "text")
        # 'z' and 'q' never appeared at training time
        test = spark.createDataFrame([(9, "zq")], "doc_id long, text string")
        [row] = bpe.bpe_encode(test, merges, vocab_df).collect()
        ids = list(row["token_ids"])
        assert ids[0] == 0 and ids[1] == 0  # z, q -> <unk>
        assert ids[2] != 0  # </w> is in the alphabet

    def test_encode_preserves_id_type(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        df = spark.createDataFrame(
            [("urn:a", "low lower low")], "doc_id string, text string"
        )
        merges = bpe.bpe_train_collected(df, n_merges=2)
        out = bpe.bpe_encode(df, merges, bpe.bpe_vocab_table(df, merges))
        assert out.schema["doc_id"].dataType.simpleString() == "string"
        assert out.schema["token_ids"].dataType.simpleString() == "array<int>"

class TestRepetitionAndDecontamination:
    def test_repetition_features_planted(self, spark):
        """Hand-computable bigram repetition: 'a b a b a b' -> grams
        (a b),(b a),(a b),(b a),(a b): top 3/5, every occurrence duplicated;
        'x y z' -> 2 distinct grams, no repetition."""
        docs = spark.createDataFrame(
            [(0, "a b a b a b"), (1, "x y z"), (2, "solo")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in dedup.repetition_features(docs, k=2).collect()}
        assert rows[0]["n_ngrams"] == 5
        assert rows[0]["top_ngram_frac"] == 0.6
        assert rows[0]["dup_ngram_frac"] == 1.0
        assert rows[1]["n_ngrams"] == 2
        assert rows[1]["top_ngram_frac"] == 0.5
        assert rows[1]["dup_ngram_frac"] == 0.0
        # single-token doc: whole-text fallback identity, one occurrence
        assert rows[2]["n_ngrams"] == 1 and rows[2]["dup_ngram_frac"] == 0.0

    def test_ngram_contamination_partial_overlap(self, spark):
        """A training doc CONTAINING an eval prompt's k-gram mid-body is
        flagged; a clean doc is not; an eval prompt shorter than k flags
        exact short duplicates via the whole-text fallback identity."""
        prompt = "w1 w2 w3 w4 w5"  # 5 tokens; k=4 -> grams at pos 1,2
        corpus = spark.createDataFrame(
            [
                (10, "pad lead " + prompt + " trail pad"),  # contains prompt
                (11, "completely different words here entirely"),
                (12, "tiny"),  # exact dup of the short eval doc
            ],
            "doc_id long, text string",
        )
        eval_df = spark.createDataFrame(
            [(0, prompt), (1, "tiny")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["n_contaminated_ngrams"]
            for r in dedup.ngram_contamination(corpus, eval_df, k=4).collect()
        }
        assert got[10] == 2  # both 4-grams of the 5-token prompt found
        assert 11 not in got
        assert got[12] == 1  # short-doc whole-text identity

    def test_ngram_contamination_broadcasts_eval_side(self, spark):
        """The scale claim: the eval k-gram set joins via broadcast — the
        corpus side is never shuffled for the join."""
        corpus = spark.createDataFrame(
            [(i, "w%d x y z q r s t u v" % i) for i in range(30)],
            "doc_id long, text string",
        )
        eval_df = spark.createDataFrame([(0, "x y z q")], "doc_id long, text string")
        plan = (
            dedup.ngram_contamination(corpus, eval_df, k=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


class TestSimilarity:
    @pytest.fixture(scope="class")
    def embeddings(self, spark):
        import random

        rng = random.Random(7)
        rows = []
        for i in range(100):
            vec = [rng.gauss(0, 1) for _ in range(16)]
            rows.append((i, vec, i % 3))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    def test_cosine_topk_exact(self, embeddings):
        query = [float(v) for v in embeddings.filter("vec_id = 5").collect()[0]["embedding"]]
        top = similarity.cosine_topk(embeddings, query, k=5).collect()
        assert top[0]["vec_id"] == 5
        assert abs(top[0]["cosine"] - 1.0) < 1e-4
        cosines = [r["cosine"] for r in top]
        assert cosines == sorted(cosines, reverse=True)

    def test_lsh_topk_contains_query_vector(self, embeddings):
        query = [float(v) for v in embeddings.filter("vec_id = 5").collect()[0]["embedding"]]
        top = similarity.lsh_topk(embeddings, query, k=5).collect()
        assert top[0]["vec_id"] == 5

    def test_lsh_recall_vs_bruteforce(self, embeddings):
        query = [float(v) for v in embeddings.filter("vec_id = 5").collect()[0]["embedding"]]
        exact = {r["vec_id"] for r in similarity.cosine_topk(embeddings, query, k=10).collect()}
        approx = {
            r["vec_id"]
            for r in similarity.lsh_topk(embeddings, query, k=10, n_planes=4).collect()
        }
        # with 4 planes + 1-bit multi-probe over 100 vectors the candidate set
        # covers a meaningful share of the exact top-10
        assert len(exact & approx) >= 3

    def test_prebucketed_matches_query_time_lsh(self, embeddings):
        """Stored-bucket ANN returns the same candidates+ranking as the
        query-time-bucket path at the same (n_planes, seed, probe) params."""
        query = [float(v) for v in embeddings.filter("vec_id = 5").collect()[0]["embedding"]]
        prebucketed = similarity.add_lsh_bucket(embeddings, n_planes=4)
        got = similarity.lsh_topk_prebucketed(
            prebucketed, query, k=10, n_planes=4
        ).collect()
        expected = similarity.lsh_topk(embeddings, query, k=10, n_planes=4).collect()
        assert [(r["vec_id"], r["cosine"]) for r in got] == [
            (r["vec_id"], r["cosine"]) for r in expected
        ]

    def test_prebucketed_layout_prunes_partitions(self, spark, embeddings, tmp_path):
        """Serving layout: add_lsh_bucket at ingest + partitionBy(lsh_bucket)
        makes the query-side bucket filter pure partition pruning — the plan
        must carry it as a PartitionFilter on the stored column, with no
        hyperplane evaluation in the scan."""
        path = str(tmp_path / "prebucketed")
        similarity.add_lsh_bucket(embeddings, n_planes=4).write.partitionBy(
            "lsh_bucket"
        ).parquet(path)
        stored = spark.read.parquet(path)
        query = [float(v) for v in embeddings.filter("vec_id = 5").collect()[0]["embedding"]]
        result = similarity.lsh_topk_prebucketed(stored, query, k=10, n_planes=4)
        plan = result._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        # the stored-column filter reached the scan's partition filters
        partition_filters = plan.split("PartitionFilters")[1].splitlines()[0]
        assert "lsh_bucket" in partition_filters
        # and the result is still the same ranking
        expected = similarity.lsh_topk(embeddings, query, k=10, n_planes=4).collect()
        assert [r["vec_id"] for r in result.collect()] == [
            r["vec_id"] for r in expected
        ]

    def test_add_lsh_bucket_empty_input_raises(self, spark, embeddings):
        empty = embeddings.filter("vec_id < 0")
        with pytest.raises(ValueError, match="embedding dimension"):
            similarity.add_lsh_bucket(empty)

    def test_add_lsh_bucket_explicit_dim_matches_probe(self, embeddings):
        probed = similarity.add_lsh_bucket(embeddings, n_planes=4)
        explicit = similarity.add_lsh_bucket(embeddings, n_planes=4, dim=16)
        got = {r["vec_id"]: r["lsh_bucket"] for r in explicit.collect()}
        want = {r["vec_id"]: r["lsh_bucket"] for r in probed.collect()}
        assert got == want

    def test_pairwise_topk_by_label_centroid_cosine(self, embeddings):
        """Per-vector cosine to the label centroid, top-k per label — checked
        against a numpy recomputation; the centroid side must be broadcast."""
        import numpy as np

        k = 4
        result = similarity.pairwise_topk_by_label(embeddings, k=k)
        plan = result._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

        rows = embeddings.collect()
        by_label = {}
        for r in rows:
            by_label.setdefault(r["label"], []).append(
                (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
            )
        expected = {}
        for label, vecs in by_label.items():
            centroid = np.mean([v for _, v in vecs], axis=0)
            cos = [
                (
                    float(v @ centroid / (np.linalg.norm(v) * np.linalg.norm(centroid))),
                    vid,
                )
                for vid, v in vecs
            ]
            cos.sort(key=lambda t: (-t[0], t[1]))
            expected[label] = [vid for _, vid in cos[:k]]
        got = {}
        for r in result.collect():
            got.setdefault(r["label"], []).append(r["vec_id"])
        assert got == expected

    def test_embedding_near_dup_production_point(self, spark):
        """Banded SRP near-dup at the production operating point (threshold
        0.9, r=4, L=8): on a corpus with seeded near-duplicate vectors the
        operator must find exactly the exact-all-pairs >= 0.9 set (banding
        recall ~0.999/pair at this angle), with numpy-verified cosines."""
        import random as pyrandom

        import numpy as np

        from sciencebeam_trainer_grobid_tools_spark.operators.dedup import (
            embedding_near_dup_pairs,
        )

        rng = pyrandom.Random(99)
        vecs = {}
        for i in range(40):
            vecs[i] = np.array([rng.gauss(0, 1) for _ in range(32)])
        for j in range(10):  # ids 100+j are near-dups of ids j
            base = vecs[j]
            noise = np.array([rng.gauss(0, 0.02) for _ in range(32)])
            vecs[100 + j] = base + noise
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs.items()],
            "vec_id long, embedding array<float>",
        )
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs(
                df, threshold=0.9, n_bands=8, rows_per_band=4, seed=7
            ).collect()
        }
        # exact all-pairs reference
        expected = {}
        ids = sorted(vecs)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = vecs[ids[x]], vecs[ids[y]]
                c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
                if c >= 0.9:
                    expected[(ids[x], ids[y])] = round(c, 4)
        assert set(got) == set(expected)
        assert len(expected) >= 10  # all seeded dup pairs present
        for pair, c in got.items():
            assert abs(c - expected[pair]) < 2e-4  # float32 storage noise


class TestIvf:
    @pytest.fixture(scope="class")
    def embeddings(self, spark):
        import random as pyrandom

        rng = pyrandom.Random(17)
        rows = []
        for i in range(120):
            rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).cache()

    def test_train_matches_numpy_lloyd(self, embeddings):
        """Spark-side Lloyd (broadcast centroids + one groupBy per iter)
        must reproduce a numpy reference exactly: same deterministic init
        (lowest ids), same max-cosine assignment, same means."""
        import numpy as np

        got = similarity.ivf_train(embeddings, n_cells=4, iters=2)

        data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in embeddings.collect()}
        cents = [data[i].copy() for i in range(4)]
        for _ in range(2):
            cells = {c: [] for c in range(4)}
            for vid in sorted(data):
                v = data[vid]
                cos = [
                    v @ c / (np.linalg.norm(v) * np.linalg.norm(c))
                    for c in cents
                ]
                cells[int(np.argmax(cos))].append(v)  # argmax = lowest-id tie
            cents = [
                np.mean(cells[c], axis=0) if cells[c] else cents[c]
                for c in range(4)
            ]
        for a, b in zip(got, cents):
            assert max(abs(x - y) for x, y in zip(a, b)) < 1e-9

    def test_assign_is_jvm_only(self, embeddings):
        cents = similarity.ivf_train(embeddings, n_cells=4, iters=1)
        assigned = similarity.ivf_assign(embeddings, cents)
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan and "MapInPandas" not in plan
        cells = {r["ivf_cell"] for r in assigned.collect()}
        assert cells <= {0, 1, 2, 3} and len(cells) > 1

    def test_assign_matmul_matches_expr(self, spark, embeddings):
        """The matmul path (Arrow-batched numpy, the scale path for large k)
        must assign IDENTICALLY to the SQL-replicable expression path —
        including the lowest-cell-id tie-break and the zero-vector edge
        (guarded norm -> all-zero cosines -> cell 0) both paths share."""
        with_zero = embeddings.union(
            spark.createDataFrame(
                [(999, [0.0] * 16), (998, None)],
                "vec_id long, embedding array<float>",
            )
        )
        cents = similarity.ivf_train(embeddings, n_cells=4, iters=1)
        expr = {
            r["vec_id"]: r["ivf_cell"]
            for r in similarity.ivf_assign(
                with_zero, cents, method="expr"
            ).collect()
        }
        matmul = {
            r["vec_id"]: r["ivf_cell"]
            for r in similarity.ivf_assign(
                with_zero, cents, method="matmul"
            ).collect()
        }
        assert expr == matmul
        assert expr[999] == 0  # zero vector: guarded norm -> cell 0
        assert expr[998] is None and matmul[998] is None  # null embedding
        # ... and at k=16, the expr/matmul auto-dispatch boundary
        cents16 = similarity.ivf_train(embeddings, n_cells=16, iters=0)
        e16 = {
            r["vec_id"]: r["ivf_cell"]
            for r in similarity.ivf_assign(
                embeddings, cents16, method="expr"
            ).collect()
        }
        m16 = {
            r["vec_id"]: r["ivf_cell"]
            for r in similarity.ivf_assign(
                embeddings, cents16, method="matmul"
            ).collect()
        }
        assert e16 == m16

    def test_train_arrow_reduce_matches_expr(self, embeddings):
        """The Arrow partial-sum reduce (the large-dim path) must train the
        same centroids as the dim F.sum-expressions path, to fp tolerance."""
        expr = similarity.ivf_train(embeddings, n_cells=4, iters=2, reduce="expr")
        arrow = similarity.ivf_train(embeddings, n_cells=4, iters=2, reduce="arrow")
        for a, b in zip(expr, arrow):
            assert max(abs(x - y) for x, y in zip(a, b)) < 1e-9

    def test_train_large_dim_uses_arrow_reduce(self, spark):
        """dim=4096 > _IVF_TRAIN_EXPR_MAX_DIM: auto must route the reduce
        through the mapInPandas partial-sum stage (a dim-independent plan —
        no 4096 per-element sum expressions), one train step must complete,
        and the result must match a numpy Lloyd step."""
        import numpy as np

        rng = np.random.default_rng(31)
        vecs = rng.normal(size=(40, 4096)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(v) for v in vecs[i]]) for i in range(40)],
            "vec_id long, embedding array<float>",
        ).cache()
        # the plan the auto reduce builds is dim-independent: one
        # mapInPandas partial stage + one groupBy — no per-element sums
        assert similarity._IVF_TRAIN_EXPR_MAX_DIM < 4096
        cents0 = [[float(v) for v in vecs[i]] for i in range(4)]
        assigned = similarity.ivf_assign(df, cents0, cell_col="_cell")
        reduce_plan = similarity._centroid_reduce_arrow_plan(
            assigned, "embedding", 4096
        )
        plan = reduce_plan._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "embedding[4095]" not in plan and "c4095" not in plan
        got = similarity.ivf_train(df, n_cells=4, iters=1, dim=4096)
        # numpy reference: one assignment + mean step on the stored floats
        data = vecs.astype(np.float64)
        cents = data[:4]
        cn = np.linalg.norm(cents, axis=1)
        vn = np.linalg.norm(data, axis=1)
        cos = (data / vn[:, None]) @ (cents / cn[:, None]).T
        cells = np.argmax(cos, axis=1)
        expected = [
            data[cells == c].mean(axis=0) if (cells == c).any() else cents[c]
            for c in range(4)
        ]
        for a, b in zip(got, expected):
            assert float(np.max(np.abs(np.asarray(a) - b))) < 1e-9

    def test_assign_matmul_large_k_no_shuffle(self, spark):
        """k=256 cells / dim=64: the expression path would be a ~10^5-node
        Catalyst tree; the matmul path must complete with ONE vectorized
        Python stage, no shuffle, and match a pure-numpy argmax."""
        import numpy as np

        rng = np.random.default_rng(23)
        vecs = rng.normal(size=(500, 64))
        cents = rng.normal(size=(256, 64))
        df = spark.createDataFrame(
            [(i, [float(v) for v in vecs[i]]) for i in range(500)],
            "vec_id long, embedding array<float>",
        )
        assigned = similarity.ivf_assign(
            df, [[float(v) for v in c] for c in cents], method="matmul"
        )
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" in plan or "Python" in plan
        got = {r["vec_id"]: r["ivf_cell"] for r in assigned.collect()}
        # numpy reference on the float32-roundtripped vectors (what Spark stores)
        stored = vecs.astype(np.float32).astype(np.float64)
        cn = np.linalg.norm(cents, axis=1)
        cos = (stored @ (cents / cn[:, None]).T)
        expected = np.argmax(cos, axis=1)
        assert got == {i: int(expected[i]) for i in range(500)}

    def test_assign_auto_dispatch(self, embeddings):
        """auto: expr (no Python) at k<=16, matmul (one Python stage) above."""
        cents16 = similarity.ivf_train(embeddings, n_cells=16, iters=0)
        plan = (
            similarity.ivf_assign(embeddings, cents16)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan
        cents17 = similarity.ivf_train(embeddings, n_cells=17, iters=0)
        plan = (
            similarity.ivf_assign(embeddings, cents17)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ArrowEvalPython" in plan or "Python" in plan
        with pytest.raises(ValueError):
            similarity.ivf_assign(embeddings, cents16, method="nope")

    def test_topk_recall_and_pruning(self, spark, embeddings, tmp_path):
        """nprobe=all cells must equal brute force exactly; on a
        cell-partitioned layout the probe filter is partition pruning."""
        cents = similarity.ivf_train(embeddings, n_cells=4, iters=2)
        query = [float(v) for v in embeddings.filter("vec_id = 7").collect()[0]["embedding"]]

        path = str(tmp_path / "ivf")
        similarity.ivf_assign(embeddings, cents).write.partitionBy(
            "ivf_cell"
        ).parquet(path)
        stored = spark.read.parquet(path)

        full = similarity.ivf_topk(stored, query, cents, k=10, nprobe=4)
        exact = similarity.cosine_topk(embeddings, query, k=10)
        assert [r["vec_id"] for r in full.collect()] == [
            r["vec_id"] for r in exact.collect()
        ]

        probed = similarity.ivf_topk(stored, query, cents, k=10, nprobe=1)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "ivf_cell" in plan.split("PartitionFilters")[1].splitlines()[0]
        # the query vector's own cell is probed -> the vector itself is found
        assert probed.collect()[0]["vec_id"] == 7


class TestPq:
    """Product quantization (pq_train / pq_encode / pq_adc_topk)."""

    def _vectors(self, n=30, dim=16, seed=7):
        import random

        rng = random.Random(seed)
        return [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(n)]

    def _df(self, spark, rows):
        return spark.createDataFrame(
            [(i, [float(v) for v in vec]) for i, vec in rows],
            "vec_id long, embedding array<float>",
        )

    def test_train_matches_numpy_lloyd(self, spark):
        import numpy as np

        rows = self._vectors()
        dim, m, n_codes, sub = 16, 4, 4, 4
        books = similarity.pq_train(
            self._df(spark, rows), m=m, n_codes=n_codes, iters=1, dim=dim
        )
        # independent numpy replica: seed = lowest-id subvectors, one
        # Lloyd step with squared-L2 argmin (lowest code on ties)
        data = np.array([v for _, v in sorted(rows)], dtype=np.float64)
        # float32 round-trip: Spark stored the vectors as array<float>
        data = data.astype(np.float32).astype(np.float64)
        for s in range(m):
            X = data[:, s * sub : (s + 1) * sub]
            C = X[:n_codes].copy()
            codes = np.argmin(
                ((X[:, None, :] - C[None]) ** 2).sum(axis=2), axis=1
            )
            for c in range(n_codes):
                members = X[codes == c]
                want = C[c] if len(members) == 0 else members.mean(axis=0)
                got = np.array(books[s][c])
                assert np.allclose(got, want, atol=1e-9), (s, c)

    def test_encode_expr_arrow_parity_and_jvm_plan(self, spark):
        df = self._df(spark, self._vectors())
        books = similarity.pq_train(df, m=4, n_codes=4, iters=0, dim=16)
        expr = similarity.pq_encode(df, books, method="expr")
        arrow = similarity.pq_encode(df, books, method="arrow")
        ce = {r["vec_id"]: r["pq_codes"] for r in expr.collect()}
        ca = {r["vec_id"]: r["pq_codes"] for r in arrow.collect()}
        assert ce == ca
        plan = expr._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan  # expr encode is pure codegen

    def test_adc_matches_bruteforce(self, spark):
        import numpy as np

        rows = self._vectors()
        df = self._df(spark, rows)
        dim, m, sub = 16, 4, 4
        books = similarity.pq_train(df, m=m, n_codes=4, iters=1, dim=dim)
        enc = similarity.pq_encode(df, books, method="expr")
        q = [float(np.float32(v)) for v in dict(rows)[0]]
        got = [
            (r["vec_id"], r["adc_dist"])
            for r in similarity.pq_adc_topk(enc, q, books, k=5).collect()
        ]
        codes = {r["vec_id"]: r["pq_codes"] for r in enc.collect()}
        booksn = [np.array(b) for b in books]

        def adc(cs):
            return sum(
                ((np.array(q[s * sub : (s + 1) * sub]) - booksn[s][cs[s]]) ** 2).sum()
                for s in range(m)
            )

        brute = sorted((adc(cs), i) for i, cs in codes.items())[:5]
        assert [(i, round(d, 4)) for d, i in brute] == got
        # the code column is what the scan reads: the ADC plan is JVM-only
        plan = (
            similarity.pq_adc_topk(enc.select("vec_id", "pq_codes"), q, books, k=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan

    def test_self_code_is_zero_distance(self, spark):
        # a seed vector encodes to its own codebook entries, and ADC from
        # itself is exactly 0 in every subspace
        rows = self._vectors(n=10)
        df = self._df(spark, rows)
        books = similarity.pq_train(df, m=4, n_codes=8, iters=0, dim=16)
        enc = {r["vec_id"]: r["pq_codes"] for r in
               similarity.pq_encode(df, books, method="expr").collect()}
        assert enc[3] == [3, 3, 3, 3]  # vec 3 is seed code 3 in every subspace

    def test_dim_not_divisible_raises(self, spark):
        df = self._df(spark, self._vectors(dim=10))
        with pytest.raises(ValueError, match="not divisible"):
            similarity.pq_train(df, m=4, n_codes=4, iters=0, dim=10)

    def test_ivfpq_composition_matches_bruteforce(self, spark):
        """The composed FAISS-style index: ivf_assign -> residual encode
        -> per-probed-cell ADC, differential against numpy end to end."""
        import numpy as np

        rows = self._vectors(n=40, dim=16)
        df = self._df(spark, rows)
        dim, m, sub, n_cells, n_codes, nprobe = 16, 4, 4, 4, 4, 2
        centroids = similarity.ivf_train(df, n_cells=n_cells, iters=1, dim=dim)
        assigned = similarity.ivf_assign(df, centroids)
        books = similarity.pq_train(
            assigned.select(
                "vec_id",
                F.zip_with(
                    "embedding",
                    F.element_at(
                        F.array(
                            *[
                                F.array(*[F.lit(float(v)) for v in c])
                                for c in centroids
                            ]
                        ),
                        F.col("ivf_cell") + 1,
                    ),
                    lambda x, c: x - c,
                ).alias("embedding"),
            ),
            m=m,
            n_codes=n_codes,
            iters=1,
            dim=dim,
        )
        encoded = similarity.pq_residual_encode(assigned, centroids, books)
        q = [float(np.float32(v)) for v in dict(rows)[0]]
        got = [
            (r["vec_id"], r["adc_dist"])
            for r in similarity.ivf_pq_topk(
                encoded, q, centroids, books, k=5, nprobe=nprobe
            ).collect()
        ]
        # numpy replica over the SAME codes/cells
        data = {r["vec_id"]: (r["ivf_cell"], r["pq_codes"]) for r in encoded.collect()}
        cents = np.array(centroids)
        booksn = [np.array(b) for b in books]
        qa = np.array(q)
        probed = sorted(
            range(n_cells), key=lambda c: ((qa - cents[c]) ** 2).sum()
        )[:nprobe]
        exp = []
        for vid, (cell, codes) in data.items():
            if cell not in probed:
                continue
            rq = qa - cents[cell]
            d = sum(
                ((rq[s * sub : (s + 1) * sub] - booksn[s][codes[s]]) ** 2).sum()
                for s in range(m)
            )
            exp.append((d, vid))
        expected = [(i, round(d, 4)) for d, i in sorted(exp)[:5]]
        assert got == expected
        # probed-cell filter + per-cell LUT dispatch stay JVM-side
        plan = (
            similarity.ivf_pq_topk(encoded, q, centroids, books, k=5, nprobe=nprobe)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan
        assert "isin" in plan.lower() or "IN (" in plan  # cell pruning filter


def _cleanliness(df):
    cols = textstats.cleanliness_columns(F.col("text"))
    return df.select("doc_id", *(expr.alias(name) for name, expr in cols.items()))


class TestTextstats:
    def test_lang_id(self, docs):
        langs = {r["doc_id"]: r["g"] for r in docs.select(
            "doc_id", textstats.lang_id(F.col("text")).alias("g")
        ).collect()}
        assert langs[0] == "en"
        assert langs[4] == "de"

    def test_quality_features(self, docs):
        row = textstats.quality_features(docs).filter("doc_id = 0").collect()[0]
        assert row["q_chars"] == len(
            "the quick brown fox jumps over the lazy dog near the river bank today"
        )
        assert row["q_tokens"] == 14

    def test_cleanliness_hand_computed(self, spark):
        # "A1b\x01�é" -> 6 codepoints: 1 upper, 1 digit, 1 control,
        # 2 non-ascii (the replacement char counts as non-ascii too)
        df = spark.createDataFrame(
            [(1, "A1b\x01�é"), (2, "")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r
            for r in _cleanliness(df).collect()
        }
        assert got[1]["replacement_chars"] == 1
        assert got[1]["control_ratio"] == round(1 / 6, 6)
        assert got[1]["non_ascii_ratio"] == round(2 / 6, 6)
        assert got[1]["digit_ratio"] == round(1 / 6, 6)
        assert got[1]["upper_ratio"] == round(1 / 6, 6)
        # empty text: clamped denominator, all zeros, no NaN
        assert got[2]["control_ratio"] == 0.0
        assert got[2]["replacement_chars"] == 0

    def test_cleanliness_plan_is_pure_codegen(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = (
            _cleanliness(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "EvalPython" not in plan

    def test_fingerprint_stable_across_case_and_newlines(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello World"), (1, "hello\nworld")], "doc_id long, text string"
        )
        fps = [
            r["fp"]
            for r in df.select(
                textstats.normalized_fingerprint(F.col("text")).alias("fp")
            ).collect()
        ]
        assert fps[0] == fps[1]


class TestResumable:
    def test_run_resumable_chunks_and_manifest(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import corpus_dataframe
        from sciencebeam_trainer_grobid_tools_spark.streaming.resume import run_resumable

        docs = corpus_dataframe(spark, 30, seed=42, partitions=2)
        out = str(tmp_path / "out")
        result = run_resumable(spark, docs, out, chunk_size=10)
        assert result["rows"] == 30
        assert result["chunks"] == 3
        produced = spark.read.parquet(out + "/annotated")
        assert produced.count() == 30
        # resume after completion is a no-op
        again = run_resumable(spark, docs, out, chunk_size=10)
        assert again["rows"] == 0
        manifest = (tmp_path / "out" / "manifest.jsonl").read_text().strip().splitlines()
        assert len(manifest) == 3
        # per-partition lineage: every chunk names the parquet part files it
        # appended; together they cover the output dir exactly (disjointly)
        import json as _json
        import os as _os

        entries = [_json.loads(line) for line in manifest]
        all_files = [f for e in entries for f in e["partition_files"]]
        assert all(e["partition_files"] for e in entries)
        assert len(all_files) == len(set(all_files))
        on_disk = {
            name
            for name in _os.listdir(str(tmp_path / "out" / "annotated"))
            if name.startswith("part-")
        }
        assert set(all_files) == on_disk

    def test_kernel_runs_once_per_chunk(self, spark, tmp_path):
        """The expensive mapInPandas stage must execute exactly once per
        document (write-with-Observation, not count + write + agg — the
        round-1 double-compute)."""
        import json

        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import corpus_dataframe
        from sciencebeam_trainer_grobid_tools_spark.streaming.resume import run_resumable

        docs = corpus_dataframe(spark, 20, seed=7, partitions=2)
        out = str(tmp_path / "out")
        counter = spark.sparkContext.accumulator(0)
        result = run_resumable(
            spark, docs, out, chunk_size=10, kernel_counter=counter
        )
        assert result["rows"] == 20
        # 20 documents total -> the kernel saw each exactly once
        assert counter.value == 20
        # manifest metrics came from the observed write job
        manifest = [
            json.loads(line)
            for line in (tmp_path / "out" / "manifest.jsonl").read_text().splitlines()
        ]
        assert [m["rows"] for m in manifest] == [10, 10]
        assert all(m["alignment_hits"] >= 0 and "errors" in m for m in manifest)

    @pytest.mark.parametrize(
        "partitions,chunk_size,sizes", [(2, 10, [10, 10, 10]), (3, 7, [7, 7, 7, 7, 2])]
    )
    def test_partial_run_then_resume(self, spark, tmp_path, partitions, chunk_size, sizes):
        """A run cut after one chunk, then resumed: the chunks are exact,
        the sink holds every corpus url once, and the kernel sees every
        document exactly once over both runs."""
        import json

        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import corpus_dataframe
        from sciencebeam_trainer_grobid_tools_spark.streaming.resume import run_resumable

        docs = corpus_dataframe(spark, 30, seed=11, partitions=partitions)
        out = str(tmp_path / "out")
        counter = spark.sparkContext.accumulator(0)
        first = run_resumable(
            spark, docs, out, chunk_size=chunk_size, max_chunks=1,
            kernel_counter=counter,
        )
        assert first == {"chunks": 1, "rows": chunk_size}
        rest = run_resumable(
            spark, docs, out, chunk_size=chunk_size, kernel_counter=counter
        )
        assert rest["rows"] == 30 - chunk_size
        manifest = [
            json.loads(line)
            for line in (tmp_path / "out" / "manifest.jsonl").read_text().splitlines()
        ]
        assert [m["rows"] for m in manifest] == sizes
        sink = [r.url for r in spark.read.parquet(out + "/annotated").select("url").collect()]
        assert len(sink) == len(set(sink))
        assert set(sink) == {r.url for r in docs.select("url").collect()}
        assert counter.value == 30

    def test_run_resumable_releases_its_plan(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import corpus_dataframe
        from sciencebeam_trainer_grobid_tools_spark.streaming.resume import run_resumable

        persistent = spark.sparkContext._jsc.getPersistentRDDs
        before = persistent().size()
        docs = corpus_dataframe(spark, 12, seed=3, partitions=2)
        result = run_resumable(spark, docs, str(tmp_path / "out"), chunk_size=5)
        assert result == {"chunks": 3, "rows": 12}
        assert persistent().size() == before


class TestReadCompletedUrls:
    def test_missing_directory_is_a_first_run(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.sources.tables import read_completed_urls

        assert read_completed_urls(spark, str(tmp_path / "annotated")) is None

    def test_directory_without_part_files_is_a_first_run(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.sources.tables import read_completed_urls

        location = tmp_path / "annotated"
        (location / "_temporary" / "0").mkdir(parents=True)
        (location / "_SUCCESS").write_text("")
        assert read_completed_urls(spark, str(location)) is None

    def test_damaged_part_file_raises_with_the_path(self, spark, tmp_path):
        """A damaged sink must stop the run: returning None would append a
        second copy of every finished document."""
        from sciencebeam_trainer_grobid_tools_spark.sources.tables import (
            CompletedOutputUnreadable,
            read_completed_urls,
        )
        from sciencebeam_trainer_grobid_tools_spark.streaming.resume import run_resumable

        location = tmp_path / "out" / "annotated"
        spark.createDataFrame([("u%d" % i,) for i in range(5)], "url string").coalesce(
            1
        ).write.parquet(str(location))
        part = sorted(location.glob("part-*"))[0]
        data = bytearray(part.read_bytes())
        data[-16:] = bytes(16)  # footer length and magic gone
        part.write_bytes(bytes(data))
        with pytest.raises(CompletedOutputUnreadable, match=str(location)):
            read_completed_urls(spark, str(location))
        docs = spark.createDataFrame([("u9", "<p>x</p>")], "url string, html string")
        with pytest.raises(CompletedOutputUnreadable):
            run_resumable(spark, docs, str(tmp_path / "out"), chunk_size=5)
        assert sorted(p.name for p in location.glob("part-*")) == [part.name]


class TestPii:
    def test_detect_and_scrub(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import pii

        rows = [
            (0, "reach me at jane.doe+x@sub.example.co.uk thanks"),
            (1, "server 192.168.1.200 and backup 10.0.0.7"),
            (2, "call 555-123-4567 or 555.987.6543 or 555 111 2222"),
            (3, "clean text with version 1.2.3 and number 12345"),
            (4, "mixed bob@ex.org at 8.8.8.8 tel 555-000-1111"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in pii.pii_features(df).collect()}
        assert got[0]["pii_emails"] == 1 and "<EMAIL>" in got[0]["scrubbed_text"]
        assert "jane" not in got[0]["scrubbed_text"]
        assert got[1]["pii_ipv4"] == 2
        assert got[1]["scrubbed_text"] == "server <IP> and backup <IP>"
        assert got[2]["pii_phones"] == 3
        assert got[2]["scrubbed_text"] == "call <PHONE> or <PHONE> or <PHONE>"
        # version strings / bare digit runs are NOT PII (conservative)
        assert got[3]["pii_found"] is False
        assert got[3]["scrubbed_text"] == rows[3][1]
        assert (got[4]["pii_emails"], got[4]["pii_ipv4"], got[4]["pii_phones"]) == (1, 1, 1)
        assert got[4]["scrubbed_text"] == "mixed <EMAIL> at <IP> tel <PHONE>"

    def test_is_pure_catalyst(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import pii

        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        plan = pii.pii_features(df)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Exchange" not in plan


class TestUnigramLogprob:
    def test_hand_computed_smoothed_scores(self, spark):
        """Corpus 'a a a' + 'a b': N=5, V=2, denom=6 -> p(a)=0.75,
        p(b)=0.25; doc0 = -ln .75, doc1 = mean(-ln .75, -ln .25)."""
        import math

        docs = spark.createDataFrame(
            [(0, "a a a"), (1, "a b")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r
            for r in textstats.unigram_logprob_features(docs).collect()
        }
        assert got[0]["n_tokens"] == 3 and got[1]["n_tokens"] == 2
        assert got[0]["avg_neg_logprob"] == round(-math.log(0.75), 6)
        assert got[1]["avg_neg_logprob"] == round(
            (-math.log(0.75) - math.log(0.25)) / 2, 6
        )
        # the rare-token doc is the filter tail (scores strictly higher)
        assert got[1]["avg_neg_logprob"] > got[0]["avg_neg_logprob"]

    def test_return_vocab_lifecycle(self, spark):
        docs = spark.createDataFrame(
            [(0, "a a a"), (1, "a b")], "doc_id long, text string"
        )
        scores, vocab = textstats.unigram_logprob_features(
            docs, persist_vocab=True, return_vocab=True
        )
        assert vocab.storageLevel.useMemory
        assert {r["tok"]: r["c"] for r in vocab.collect()} == {"a": 4, "b": 1}
        assert scores.count() == 2
        vocab.unpersist()
        assert not vocab.storageLevel.useMemory


class TestBigramLogprob:
    def test_hand_computed_smoothed_scores(self, spark):
        """Corpus 'a b a b c' + 'a b' + 'x' + '': bigram counts
        (a,b)=3 (b,a)=1 (b,c)=1; contexts a=3, b=2; V={a,b,c}=3.
        Docs with < 2 tokens drop (no bigrams)."""
        import math

        docs = spark.createDataFrame(
            [(1, "a b a b c"), (2, "a b"), (3, "x"), (4, "")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r
            for r in textstats.bigram_logprob_features(docs).collect()
        }
        assert sorted(got) == [1, 2]
        s, v = 0.5, 3.0

        def p(c2, c1):
            return (c2 + s) / (c1 + s * v)

        assert got[1]["n_bigrams"] == 4
        assert got[1]["avg_neg_logprob2"] == round(
            -(2 * math.log(p(3, 3)) + 2 * math.log(p(1, 2))) / 4, 6
        )
        assert got[2]["n_bigrams"] == 1
        assert got[2]["avg_neg_logprob2"] == round(-math.log(p(3, 3)), 6)
        # doc 1 mixes rarer continuations -> strictly higher (filter tail)
        assert got[1]["avg_neg_logprob2"] > got[2]["avg_neg_logprob2"]

    def test_scores_against_unigram_shape(self, spark):
        """Same plumbing contract as unigram: one row per scoring doc,
        deterministic across reruns."""
        docs = spark.createDataFrame(
            [(i, "tok%d the common run of words %d" % (i % 3, i)) for i in range(20)],
            "doc_id long, text string",
        )
        a = textstats.bigram_logprob_features(docs).collect()
        b = textstats.bigram_logprob_features(docs).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len(a) == 20

    def test_default_call_caches_nothing(self, spark):
        """Only the score plan is returned, so a cached count table could
        never be unpersisted: a default call leaves no persisted RDD."""
        docs = spark.createDataFrame(
            [(1, "a b a b c"), (2, "a b")], "doc_id long, text string"
        )
        persistent = spark.sparkContext._jsc.getPersistentRDDs
        before = persistent().size()
        textstats.bigram_logprob_features(docs).collect()
        assert persistent().size() == before

    def test_hand_computed_kneser_ney_scores(self, spark):
        """Same corpus as the additive test, D=0.75.  Count-table stats:
        bigram types T=3; N1+(a,*)=1, N1+(b,*)=2; N1+(*,a)=N1+(*,b)=
        N1+(*,c)=1; contexts c(a,.)=3, c(b,.)=2.  So
        p(b|a) = (3-.75)/3 + .75*(1/3)*(1/3) = 5/6 and
        p(a|b) = p(c|b) = (1-.75)/2 + .75*(2/2)*(1/3) = 3/8."""
        import math

        docs = spark.createDataFrame(
            [(1, "a b a b c"), (2, "a b"), (3, "x"), (4, "")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r
            for r in textstats.bigram_logprob_features(
                docs, smoothing_mode="kn"
            ).collect()
        }
        assert sorted(got) == [1, 2]
        p_ba, p_ab = 5.0 / 6.0, 3.0 / 8.0
        assert got[1]["n_bigrams"] == 4
        assert got[1]["avg_neg_logprob2"] == round(
            -(2 * math.log(p_ba) + 2 * math.log(p_ab)) / 4, 6
        )
        assert got[2]["avg_neg_logprob2"] == round(-math.log(p_ba), 6)
        # KN agrees with additive on the ordering (doc 1 is the tail)
        assert got[1]["avg_neg_logprob2"] > got[2]["avg_neg_logprob2"]

    def test_kn_parameter_validation(self, spark):
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="smoothing_mode"):
            textstats.bigram_logprob_features(docs, smoothing_mode="laplace")
        with pytest.raises(ValueError, match="kn_discount"):
            textstats.bigram_logprob_features(
                docs, smoothing_mode="kn", kn_discount=1.5
            ).collect()

    TRAIN = [(1, "a b a b c"), (2, "a b"), (3, "x"), (4, "")]
    # model from TRAIN: T=3 bigram types; c(a,.)=3 c(b,.)=2;
    # N1+(a,*)=1 N1+(b,*)=2; N1+(*,a)=N1+(*,b)=N1+(*,c)=1; V2=3
    HELDOUT = [
        (10, "a b"),   # seen bigram
        (11, "a c"),   # unseen bigram, seen context, seen continuation
        (12, "z b"),   # unseen context, seen continuation
        (13, "z q"),   # fully OOV
        (14, "w"),     # < 2 tokens: no bigrams, drops
    ]

    def test_hand_computed_kn_heldout_scores(self, spark):
        """s=0.5 D=0.75: pc denom = T + s*(V2+1) = 5, so pc(seen)=0.3,
        pc(OOV)=0.1; p(b|a)=2.25/3 + .75*(1/3)*.3 = .825,
        p(c|a)=0 + .075, p(b|z)=pc(b)=.3, p(q|z)=pc(OOV)=.1."""
        import math

        train = spark.createDataFrame(self.TRAIN, "doc_id long, text string")
        held = spark.createDataFrame(self.HELDOUT, "doc_id long, text string")
        got = {
            r["doc_id"]: r
            for r in textstats.bigram_logprob_features(
                train, smoothing_mode="kn",
                score_df=held,
            ).collect()
        }
        assert sorted(got) == [10, 11, 12, 13]
        want = {10: 0.825, 11: 0.075, 12: 0.3, 13: 0.1}
        for doc_id, p in want.items():
            assert got[doc_id]["n_bigrams"] == 1
            assert got[doc_id]["avg_neg_logprob2"] == round(-math.log(p), 6), doc_id
        # improbability ordering: OOV > backoff > unseen bigram > seen
        assert (
            got[13]["avg_neg_logprob2"] > got[12]["avg_neg_logprob2"]
            > got[10]["avg_neg_logprob2"]
        )

    def test_hand_computed_additive_heldout_scores(self, spark):
        """V=3: p(b|a)=3.5/4.5, p(c|a)=0.5/4.5, unseen context ->
        uniform 0.5/1.5 = 1/3 for any continuation."""
        import math

        train = spark.createDataFrame(self.TRAIN, "doc_id long, text string")
        held = spark.createDataFrame(self.HELDOUT, "doc_id long, text string")
        got = {
            r["doc_id"]: r["avg_neg_logprob2"]
            for r in textstats.bigram_logprob_features(
                train, score_df=held
            ).collect()
        }
        assert got[10] == round(-math.log(3.5 / 4.5), 6)
        assert got[11] == round(-math.log(0.5 / 4.5), 6)
        assert got[12] == got[13] == round(-math.log(1.0 / 3.0), 6)

    def test_heldout_seen_corpus_agrees_with_in_corpus_kn(self, spark):
        """Scoring the training corpus via score_df must equal the
        in-corpus path up to the OOV mass: with every event seen, the
        only difference is pc's +s/+s(V2+1) smoothing — assert exact
        n_bigrams/doc set parity and score agreement within the
        documented pc perturbation bound."""
        train = spark.createDataFrame(
            [(i, "tok%d the common run of words %d" % (i % 3, i)) for i in range(12)],
            "doc_id long, text string",
        )
        in_corpus = {
            r["doc_id"]: r
            for r in textstats.bigram_logprob_features(
                train, smoothing_mode="kn"
            ).collect()
        }
        held = {
            r["doc_id"]: r
            for r in textstats.bigram_logprob_features(
                train, smoothing_mode="kn",
                score_df=train,
            ).collect()
        }
        assert sorted(in_corpus) == sorted(held)
        for doc_id in in_corpus:
            assert held[doc_id]["n_bigrams"] == in_corpus[doc_id]["n_bigrams"]
            assert abs(
                held[doc_id]["avg_neg_logprob2"]
                - in_corpus[doc_id]["avg_neg_logprob2"]
            ) < 0.35


class TestDsirSelect:
    """DSIR importance resampling (Xie et al. 2023 shape)."""

    def test_hand_computed_weights(self, spark):
        """raw = {'a a', 'b b'}, target = {'a a'}: union vocab {a, b},
        nt=2 nr=4 V=2 s=0.5 -> w(doc1) = 2 ln(5/3), w(doc2) = 2 ln(1/3)."""
        import math

        raw = spark.createDataFrame(
            [(1, "a a"), (2, "b b")], "doc_id long, text string"
        )
        target = raw.filter(F.col("doc_id") == 1)
        out = {
            r["doc_id"]: r
            for r in textstats.dsir_select(
                raw, target, n_select=2, persist_vocab=False
            ).collect()
        }
        assert out[1]["dsir_logweight"] == round(2 * math.log(5 / 3), 6)
        assert out[2]["dsir_logweight"] == round(2 * math.log(1 / 3), 6)

    def test_selects_target_like_docs(self, spark):
        rows = [(i, "le chat est sur la table numero %d" % i, "fr") for i in range(8)]
        rows += [(100 + i, "the dog sits on the mat number %d" % i, "en")
                 for i in range(8)]
        raw = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        target = raw.filter(F.col("lang") == "fr")
        sel = textstats.dsir_select(raw, target, 8, persist_vocab=False).collect()
        ids = {r["doc_id"] for r in sel}
        # gumbel noise can let a near-boundary doc slip, but the selection
        # must concentrate overwhelmingly on the target-like half
        assert len(ids) == 8 and sum(1 for i in ids if i < 100) >= 7

    def test_deterministic_and_skips_empty(self, spark):
        raw = spark.createDataFrame(
            [(1, "x y z"), (2, ""), (3, "x y q")], "doc_id long, text string"
        )
        target = raw.filter(F.col("doc_id") == 1)
        a = textstats.dsir_select(raw, target, 3, persist_vocab=False).collect()
        b = textstats.dsir_select(raw, target, 3, persist_vocab=False).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert {r["doc_id"] for r in a} == {1, 3}  # empty doc never selected

    def test_return_vocab_lifecycle(self, spark):
        # long-lived sessions own the cache: return_vocab hands back the
        # persisted union-vocab table so it can be unpersisted after use
        raw = spark.createDataFrame(
            [(1, "a a"), (2, "b b")], "doc_id long, text string"
        )
        target = raw.filter(F.col("doc_id") == 1)
        selected, vocab = textstats.dsir_select(
            raw, target, n_select=2, persist_vocab=True, return_vocab=True
        )
        assert vocab.storageLevel.useMemory  # it IS the persisted handle
        got = {r["tok"]: (r["cr"], r["ct"]) for r in vocab.collect()}
        assert got == {"a": (2, 2), "b": (2, 0)}
        assert selected.count() == 2
        vocab.unpersist()
        assert not vocab.storageLevel.useMemory


class TestTokenBudgetSample:
    def _docs(self, spark):
        # two strata; 'en' has 10 docs x 10 tokens = 100 tokens total
        rows = [(i, " ".join("w%d" % j for j in range(10)), "en") for i in range(10)]
        rows += [(100 + i, "a b c d e", "de") for i in range(4)]  # 20 tokens
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def test_exact_mode_fills_budget(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import textstats as ts

        kept = ts.token_budget_sample(
            self._docs(spark), 30, strata=("lang",), mode="exact"
        ).collect()
        by_lang = {}
        for r in kept:
            by_lang.setdefault(r["lang"], []).append(r["doc_id"])
        # en: 10-token docs -> exactly 3 fit a 30-token budget
        assert len(by_lang["en"]) == 3
        # de: 5-token docs -> all 4 fit (20 <= 30)
        assert sorted(by_lang["de"]) == [100, 101, 102, 103]
        # deterministic: same rows on a rerun
        again = ts.token_budget_sample(
            self._docs(spark), 30, strata=("lang",), mode="exact"
        ).collect()
        assert {r["doc_id"] for r in again} == {r["doc_id"] for r in kept}

    def test_rate_mode_no_window_and_keeps_all_under_budget(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import textstats as ts

        docs = self._docs(spark)
        # budget above every stratum's total: rate clamps to 1.0, keep all
        all_kept = ts.token_budget_sample(docs, 10_000, strata=("lang",), mode="rate")
        assert all_kept.count() == docs.count()
        plan = all_kept._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan  # the scale claim: no per-stratum sort
        # sub-budget: deterministic strict subset
        some = ts.token_budget_sample(docs, 50, strata=("lang",), mode="rate")
        ids = {r["doc_id"] for r in some.collect()}
        assert 0 < len(ids) < docs.count()
        again = {
            r["doc_id"]
            for r in ts.token_budget_sample(
                docs, 50, strata=("lang",), mode="rate"
            ).collect()
        }
        assert again == ids

    def test_invalid_mode_raises(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import textstats as ts

        with pytest.raises(ValueError, match="mode must be"):
            ts.token_budget_sample(self._docs(spark), 10, mode="fuzzy")

    def test_null_stratum_is_a_stratum_in_both_modes(self, spark):
        """A NULL stratum value is still a stratum: groupBy and the
        exact-mode window both treat it as one group, so rate mode must
        not silently drop those rows through a null-rejecting inner join
        (the join is null-safe per stratum column)."""
        from sciencebeam_trainer_grobid_tools_spark.operators import textstats as ts

        rows = [(i, "a b c d e", "en") for i in range(4)]
        rows += [(100 + i, "a b c d e", None) for i in range(4)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        for mode in ("rate", "exact"):
            kept = ts.token_budget_sample(
                docs, 10_000, strata=("lang",), mode=mode
            ).collect()
            assert len(kept) == 8, mode  # null-lang docs survive both modes
            assert {r["lang"] for r in kept} == {"en", None}, mode


class TestMixCorpora:
    def test_schema_collision_raises(self, spark):
        """The mixer APPENDS n_tokens/epoch/source and draws on id_col:
        colliding or missing columns must raise, not silently duplicate
        or overwrite (r10 ADVICE)."""
        import pytest as _pytest

        from sciencebeam_trainer_grobid_tools_spark.operators import (
            textstats as ts,
        )

        ok = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        clash = spark.createDataFrame(
            [(1, "a b c", 3)], "doc_id long, text string, n_tokens int"
        )
        with _pytest.raises(ValueError, match="n_tokens"):
            ts.mix_corpora({"x": clash}, {"x": 1.0}, 10)
        # a pre-existing 'source' column is cleanly overwritten, not an
        # error (the driver's documents table carries one)
        has_source = spark.createDataFrame(
            [(1, "a b c", "web")], "doc_id long, text string, source string"
        )
        rows = ts.mix_corpora({"x": has_source}, {"x": 1.0}, 9).collect()
        assert {r["source"] for r in rows} == {"x"}
        no_id = spark.createDataFrame([("a b",)], "text string")
        with _pytest.raises(ValueError, match="no id column"):
            ts.mix_corpora({"x": no_id}, {"x": 1.0}, 10)
        # the valid source still mixes
        assert ts.mix_corpora({"x": ok}, {"x": 1.0}, 9).count() == 3

    def _sources(self, spark):
        # 'big': 20 docs x 10 tokens = 200; 'small': 4 docs x 5 = 20
        big = spark.createDataFrame(
            [(i, " ".join("w%d" % j for j in range(10))) for i in range(20)],
            "doc_id long, text string",
        )
        small = spark.createDataFrame(
            [(100 + i, "a b c d e") for i in range(4)],
            "doc_id long, text string",
        )
        return {"big": big, "small": small}

    def test_matches_python_reference(self, spark):
        """Epoch counts and fractional-epoch membership replayed with
        hashlib: every (source, doc, epoch) row the operator emits is
        exactly the reference's."""
        import hashlib

        from sciencebeam_trainer_grobid_tools_spark.operators import (
            textstats as ts,
        )

        srcs = self._sources(spark)
        weights = {"big": 1.0, "small": 1.0}
        budget = 300  # per source 150: big e=0.75, small e=7.5
        got = {
            (r["source"], r["doc_id"], r["epoch"])
            for r in ts.mix_corpora(srcs, weights, budget, salt="m").collect()
        }
        want = set()
        for name, docs, total in (
            ("big", [(i, 10) for i in range(20)], 200),
            ("small", [(100 + i, 5) for i in range(4)], 20),
        ):
            e = (budget * 0.5) / total
            n_full = int(e)
            frac = e - n_full
            for doc_id, _ in docs:
                for ep in range(n_full):
                    want.add((name, doc_id, ep))
                u = int(
                    hashlib.md5(
                        ("m:%s:%d:%d" % (name, n_full, doc_id)).encode()
                    ).hexdigest()[:8],
                    16,
                ) / float(16 ** 8)
                if u < frac:
                    want.add((name, doc_id, n_full))
        assert got == want
        # the upweighted small source actually repeats: epochs >= 7
        assert max(ep for s, _, ep in got if s == "small") >= 7
        # and the big source is subsampled, not exhausted
        assert len([1 for s, _, ep in got if s == "big"]) < 20

    def test_token_budget_hit_in_expectation(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import (
            textstats as ts,
        )

        srcs = self._sources(spark)
        rows = ts.mix_corpora(
            srcs, {"big": 3.0, "small": 1.0}, 400, salt="b"
        ).collect()
        tok = {}
        for r in rows:
            tok[r["source"]] = tok.get(r["source"], 0) + r["n_tokens"]
        # big target 300 of 200 available -> 1 full epoch + half; small
        # target 100 = 5 exact epochs of its 20 tokens
        assert tok["small"] == 100
        assert 200 <= tok["big"] <= 400  # full epoch + binomial half

    def test_deterministic_and_salt_redeals_fraction_only(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import (
            textstats as ts,
        )

        srcs = self._sources(spark)
        w = {"big": 1.0, "small": 1.0}

        def rows(salt):
            return sorted(
                (r["source"], r["doc_id"], r["epoch"])
                for r in ts.mix_corpora(srcs, w, 300, salt=salt).collect()
            )

        assert rows("x") == rows("x")
        a, b = rows("x"), rows("y")
        # full epochs are salt-independent; only the fractional epoch
        # re-deals
        full_a = [t for t in a if t[0] == "small" and t[2] < 7]
        full_b = [t for t in b if t[0] == "small" and t[2] < 7]
        assert full_a == full_b
        assert a != b or len(a) == len(b)  # permutation of draws may tie

    def test_zero_shuffle_plan(self, spark):
        """After the totals collect, the mixture is pure codegen: the
        per-source plans carry no Exchange at all."""
        from sciencebeam_trainer_grobid_tools_spark.operators import (
            textstats as ts,
        )

        srcs = self._sources(spark)
        mixed = ts.mix_corpora(srcs, {"big": 1.0, "small": 1.0}, 300)
        plan = mixed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_validation_and_empty_source(self, spark):
        import pytest as _pytest

        from sciencebeam_trainer_grobid_tools_spark.operators import (
            textstats as ts,
        )

        srcs = self._sources(spark)
        with _pytest.raises(ValueError):
            ts.mix_corpora({}, {}, 100)
        with _pytest.raises(ValueError):
            ts.mix_corpora(srcs, {"big": 1.0}, 100)
        with _pytest.raises(ValueError):
            ts.mix_corpora(srcs, {"big": -1.0, "small": 0.0}, 100)
        empty = srcs["big"].limit(0)
        out = ts.mix_corpora(
            {"big": srcs["big"], "void": empty},
            {"big": 1.0, "void": 1.0},
            200,
        )
        assert {r["source"] for r in out.collect()} == {"big"}


class TestWinnowing:
    def test_guarantee_and_identity(self, spark):
        """Winnowing's containment guarantee: any shared run of
        k + window - 1 = 8 tokens yields at least one shared fingerprint;
        exact duplicates have identical sets; sub-k docs yield none."""
        import random

        rng = random.Random(41)
        vocab = ["w%d" % i for i in range(50)]
        a_words = [vocab[rng.randrange(50)] for _ in range(40)]
        shared = ["s%d" % i for i in range(8)]  # the planted 8-token run
        b_words = [vocab[rng.randrange(50)] for _ in range(15)] + shared + [
            vocab[rng.randrange(50)] for _ in range(15)
        ]
        a_with_shared = a_words[:20] + shared + a_words[20:]
        docs = spark.createDataFrame(
            [
                (0, " ".join(a_with_shared)),
                (1, " ".join(b_words)),  # different doc, same 8-token run
                (2, " ".join(a_with_shared)),  # exact dup of 0
                (3, "too short"),  # < k tokens: no fingerprints
            ],
            "doc_id long, text string",
        )
        fps = {}
        for r in dedup.winnowing_fingerprints(docs, k=5, window=4).collect():
            fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        assert fps[0] & fps[1], "shared 8-token run must share a fingerprint"
        assert fps[0] == fps[2]
        assert 3 not in fps
        # fingerprints are winnowed DOWN: far fewer than gram positions
        assert len(fps[0]) < len(a_with_shared) - 4

    def test_unrelated_docs_rarely_collide(self, spark):
        docs = spark.createDataFrame(
            [(0, " ".join("a%d" % i for i in range(30))),
             (1, " ".join("b%d" % i for i in range(30)))],
            "doc_id long, text string",
        )
        fps = {}
        for r in dedup.winnowing_fingerprints(docs).collect():
            fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        assert not (fps[0] & fps[1])


class TestBpeHeldOut:
    """Held-out encoder health (``<unk>`` share of the encoded ids) +
    vocabulary stability under retraining — the artifact contract a
    training run depends on."""

    def _model(self, spark, rows, n_merges=3):
        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        df = spark.createDataFrame(rows, "doc_id long, text string")
        merges = bpe.bpe_train_collected(df, n_merges=n_merges)
        return df, merges, bpe.bpe_vocab_table(df, merges)

    def test_unk_stats_differential(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        train_rows = [(1, "low lower low"), (2, "new lower low")]
        _, merges, vocab_df = self._model(spark, train_rows)
        known = {r["token"] for r in vocab_df.collect()} - {"<unk>"}
        held_rows = [
            (10, "low lower"),        # fully known
            (11, "zq low"),           # two unseen chars
            (12, "zzzz"),             # all unseen but </w>
            (13, None),               # NULL -> empty doc, rate 0.0
        ]
        held = spark.createDataFrame(held_rows, "doc_id long, text string")
        unk_id = {r["token"]: r["token_id"] for r in vocab_df.collect()}["<unk>"]

        def stats(ids):
            n_unk = sum(1 for i in ids if i == unk_id)
            return (len(ids), n_unk, (n_unk / len(ids)) if ids else 0.0)

        got = {
            r["doc_id"]: stats(list(r["token_ids"]))
            for r in bpe.bpe_encode(held, merges, vocab_df).collect()
        }

        def ref(text):
            n_sub = n_unk = 0
            for w in (text or "").replace("\n", " ").split(" "):
                if not w:
                    continue
                syms = list(w) + ["</w>"]
                for a, b in merges:
                    i, nxt = 0, []
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                            nxt.append(a + b)
                            i += 2
                        else:
                            nxt.append(syms[i])
                            i += 1
                    syms = nxt
                n_sub += len(syms)
                n_unk += sum(1 for s in syms if s not in known)
            return (n_sub, n_unk, (n_unk / n_sub) if n_sub else 0.0)

        assert got == {i: ref(t) for i, t in held_rows}
        assert got[10][2] == 0.0  # fully-known doc: zero unk rate
        assert got[11][1] == 2 and got[12][2] > 0.5
        assert got[13] == (0, 0, 0.0)

    def test_vocab_stable_under_exact_retraining(self, spark):
        rows = [(1, "low lower low"), (2, "new lower wide")]
        _, m1, v1 = self._model(spark, rows, n_merges=4)
        _, m2, v2 = self._model(spark, rows, n_merges=4)
        assert m1 == m2
        assert sorted(map(tuple, v1.collect())) == sorted(map(tuple, v2.collect()))

    def test_vocab_stable_under_count_scaling(self, spark):
        """Duplicating every document scales all pair counts uniformly,
        so the learned merges AND the vocabulary ids are identical —
        retraining on a bigger crawl of the same distribution reproduces
        the artifact."""
        rows = [(1, "low lower low"), (2, "new lower wide")]
        doubled = rows + [(i + 100, t) for i, t in rows]
        _, m1, v1 = self._model(spark, rows, n_merges=4)
        _, m2, v2 = self._model(spark, doubled, n_merges=4)
        assert m1 == m2
        assert sorted(map(tuple, v1.collect())) == sorted(map(tuple, v2.collect()))

    def test_vocab_layout_invariant_under_extension(self, spark):
        """Extending the corpus with NEW characters shifts ids (the
        alphabet block grows) but the layout contract holds: id 0 =
        <unk>, dense ids, sorted alphabet block, merges appended in
        merge order — and encode round-trips against the NEW artifact."""
        from sciencebeam_trainer_grobid_tools_spark.operators import bpe

        rows = [(1, "low lower low"), (2, "new lower wide")]
        extended = rows + [(3, "grüße zürich")]
        df = spark.createDataFrame(extended, "doc_id long, text string")
        merges = bpe.bpe_train_collected(df, n_merges=4)
        vocab = {
            r["token"]: r["token_id"]
            for r in bpe.bpe_vocab_table(df, merges).collect()
        }
        assert vocab["<unk>"] == 0
        assert sorted(vocab.values()) == list(range(len(vocab)))
        alpha = sorted(set("lowernewwidegrüßezürich") | {"</w>"})
        ordered = [t for t, i in sorted(vocab.items(), key=lambda kv: kv[1])]
        assert ordered[1:1 + len(alpha)] == alpha
        # round-trip: every emitted id maps back to a vocab token
        enc = bpe.bpe_encode(df, merges, bpe.bpe_vocab_table(df, merges))
        ids = {i for r in enc.collect() for i in r["token_ids"]}
        assert ids <= set(vocab.values())
