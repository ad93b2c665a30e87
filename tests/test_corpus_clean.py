"""clean_corpus composition (kgkit/operators/corpus_clean.py):
each stage drops exactly its planted victims, accounting adds up."""

from __future__ import annotations


TEXT_A = ("the quick brown fox jumps over the lazy dog while the spark "
          "engine keeps every stage of the query pipeline busy with joins "
          "and the optimizer prunes columns early so the scan stays narrow "
          "and the shuffle stays small for all partitions involved here")
TEXT_B = ("completely different second article about cooking bread at home "
          "where the dough rests overnight and the oven heats slowly until "
          "the crust turns golden and the kitchen smells of fresh baking "
          "while the family waits around the table for the first warm slice")
TEXT_C = ("a third unrelated report on mountain weather patterns describes "
          "how the wind shifts across the ridge before a storm arrives and "
          "hikers learn to read the clouds closely because conditions change "
          "faster above the treeline than any forecast can ever promise")


def _corpus(spark):
    rows = [
        # two URL variants of the same resource (stage 1 keeps id 1)
        (1, "http://e.com/a?utm_source=x", TEXT_A + " alpha one"),
        (2, "http://E.com:80/a", TEXT_A + " alpha two"),
        # exact duplicate pair (stage 2 keeps id 3)
        (3, "http://e.com/b", TEXT_B),
        (4, "http://e.com/c", TEXT_B),
        # near-duplicate of doc 3 (stage 3 drops the larger id 5)
        (5, "http://e.com/d", TEXT_B + " extra suffix tail words"),
        # low-quality (too short for the Gopher min_words rule)
        (6, "http://e.com/e", "tiny page"),
        # clean survivor
        (7, "http://e.com/f", TEXT_C),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


class TestCleanCorpus:
    def test_stagewise_drops_and_accounting(self, spark):
        from kgkit.operators.corpus_clean import clean_corpus

        spark.catalog.clearCache()
        cleaned, stats = clean_corpus(_corpus(spark))
        # the near-dup stage's fan-out caches are released at its boundary
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        kept = sorted(r["doc_id"] for r in cleaned.collect())
        # 2 lost to url-dedup, 4 to exact, 5 to near-dup, 6 to quality
        assert kept == [1, 3, 7], (kept, stats)
        assert stats["input"] == 7
        assert stats["dropped_url_dedup"] == 1
        assert stats["dropped_exact"] == 1
        assert stats["dropped_near_dup"] == 1
        assert stats["dropped_quality"] == 1
        assert stats["after_quality"] == 3
        # accounting must be conservative: kept + all drops == input
        total = stats["after_quality"] + sum(
            v for k, v in stats.items() if k.startswith("dropped_")
        )
        assert total == stats["input"]

    def test_junk_urls_are_not_one_dedup_group(self, spark):
        """Shared non-canonicalizable placeholders ('', 'N/A') must not
        become one dedup key any more than SQL NULLs: distinct-content
        docs with junk urls all survive stage 1."""
        from kgkit.operators.corpus_clean import clean_corpus

        docs = spark.createDataFrame(
            [(1, "", TEXT_A), (2, "", TEXT_B),
             (3, "N/A", TEXT_C), (4, "N/A", TEXT_A)],
            "doc_id long, url string, text string",
        )
        cleaned, stats = clean_corpus(docs)
        assert stats["dropped_url_dedup"] == 0
        # the identical-content pair still collapses downstream
        assert stats["dropped_exact"] == 1
        assert sorted(r["doc_id"] for r in cleaned.collect()) == [1, 2, 3]

    def test_cluster_strategy_matches_greedy_when_chain_free(self, spark):
        """On a chain-free pair graph the transitive-cluster drop and
        the greedy right-drop keep identical survivors (the chain case
        where they differ is pinned in tests/test_dedup_clusters.py);
        accounting stays conservative and bad strategies raise."""
        import pytest

        from kgkit.operators.corpus_clean import clean_corpus

        cleaned, stats = clean_corpus(
            _corpus(spark), near_dup_strategy="clusters"
        )
        assert sorted(r["doc_id"] for r in cleaned.collect()) == [1, 3, 7]
        assert stats["dropped_near_dup"] == 1
        with pytest.raises(ValueError):
            clean_corpus(_corpus(spark), near_dup_strategy="nope")

    def test_null_urls_are_not_one_dedup_group(self, spark):
        """A sparsely-populated url column must not collapse every
        url-less doc into one NULL dedup key (mass data loss): the key
        falls back to a per-row doc:// id."""
        from kgkit.operators.corpus_clean import clean_corpus

        rows = [
            (1, None, TEXT_A),
            (2, None, TEXT_B),
            (3, None, TEXT_C),
            (4, "http://e.com/a",
             "a fourth wholly separate essay follows the harvest season on "
             "the coast where the boats return before dusk and the market "
             "opens early with crates of fish and the town gathers to trade "
             "stories about the tides and the weather out beyond the bay"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
        cleaned, stats = clean_corpus(docs)
        assert stats["dropped_url_dedup"] == 0, stats
        assert sorted(r["doc_id"] for r in cleaned.collect()) == [1, 2, 3, 4]

    def test_mega_duplicate_no_window_shuffle(self, spark):
        """Scale shape: dedup stages 1-2 are groupBy(key).min + semi-join
        (map-side partial combine on a narrow projection), NOT a
        Window.partitionBy(key) full-row shuffle — a mega-duplicated
        boilerplate page must not funnel through one reducer task."""
        from pyspark.sql import functions as F

        from kgkit.operators.corpus_clean import clean_corpus

        mega = spark.range(0, 400).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("http://m.com/p"), F.col("id")).alias("url"),
            F.lit(TEXT_A).alias("text"),
        )
        tail = spark.createDataFrame(
            [(1000, "http://m.com/t", TEXT_C)],
            "doc_id long, url string, text string",
        )
        cleaned, stats = clean_corpus(mega.unionByName(tail))
        assert stats["dropped_exact"] == 399, stats
        assert sorted(r["doc_id"] for r in cleaned.collect()) == [0, 1000]
        # the dedup building block itself: no Window, partial+final
        # HashAggregate (map-side combine on the key), semi-join keep
        from kgkit.operators.corpus_clean import keep_min_id

        dd = keep_min_id(mega.unionByName(tail), F.md5("text"))
        plan = dd._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        assert plan.count("HashAggregate") >= 2, plan
        assert "LeftSemi" in plan, plan

    def test_no_url_column_skips_stage_one(self, spark):
        from kgkit.operators.corpus_clean import clean_corpus

        docs = _corpus(spark).drop("url")
        cleaned, stats = clean_corpus(docs)
        assert stats["dropped_url_dedup"] == 0
        # without url-dedup, doc 2 survives stage 1 and is NOT an exact
        # duplicate of doc 1 (different alpha tails) — near-dup catches it
        kept = sorted(r["doc_id"] for r in cleaned.collect())
        assert kept == [1, 3, 7], (kept, stats)
        assert stats["dropped_near_dup"] == 2  # docs 2 and 5

    def test_trained_clf_stage_catches_what_rules_cannot(self, spark):
        # scrambled fluent text passes every Gopher rule (lengths,
        # stopwords, alpha fraction are order-blind) — only the trained
        # model's bigram features separate it.  The CCNet composition:
        # dedup -> rules -> trained filter.
        from kgkit.operators.corpus_clean import clean_corpus
        from kgkit.operators.quality_clf import (
            corrupt_scramble,
            default_quality_clf,
            fluent_pages,
        )

        pos = fluent_pages(12, seed=314)
        neg = [corrupt_scramble(t, 99 + i) for i, t in enumerate(pos)]
        rows = [(i, t) for i, t in enumerate(pos)] + [
            (100 + i, t) for i, t in enumerate(neg)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        clf = default_quality_clf()
        cleaned, stats = clean_corpus(
            docs, url_col=None, quality_clf=clf,
            quality_kwargs={"min_words": 5, "min_stopwords": 0},
        )
        kept = sorted(r["doc_id"] for r in cleaned.collect())
        # rules drop nothing (order-blind signals identical per pair)
        assert stats["dropped_quality"] == 0, stats
        # the model stage drops the scrambled docs (>=11/12 — one miss
        # tolerated at its 0.992 held-out accuracy), keeps the fluent
        assert stats["dropped_clf"] >= 11, stats
        assert sum(d >= 100 for d in kept) <= 1, kept
        assert sum(d < 100 for d in kept) >= 11, kept
        # accounting still conserves
        assert stats["input"] - sum(
            v for k, v in stats.items() if k.startswith("dropped_")
        ) == stats["after_clf"], stats

    def test_clf_stage_absent_by_default(self, spark):
        from kgkit.operators.corpus_clean import clean_corpus

        _, stats = clean_corpus(_corpus(spark))
        assert "after_clf" not in stats and "dropped_clf" not in stats
