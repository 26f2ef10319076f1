"""Corpus-level ops (operators/corpus.py): vocabulary, tf-idf top-k, exact
quantiles — small hand-checkable fixtures; the driver oracles cover scale."""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat", "en"),
        (2, "the dog sat", "en"),
        (3, "the the the", "en"),
        (4, "ein hund", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string, lang string")


def test_vocabulary_tf_and_df(docs):
    from extractors_metadata_spark.operators.corpus import vocabulary

    v = {r["word"]: (r["tf"], r["df_docs"]) for r in vocabulary(docs).collect()}
    assert v["the"] == (5, 3)  # 1+1+3 occurrences across docs 1,2,3
    assert v["sat"] == (2, 2)
    assert v["hund"] == (1, 1)


def test_vocab_topk_order_and_tiebreak(docs):
    from extractors_metadata_spark.operators.corpus import vocab_topk

    rows = vocab_topk(docs, k=3).collect()
    assert [r["word"] for r in rows] == ["the", "sat", "cat"]  # tf 5, 2, then 1-ties by word


def test_good_turing_counts_of_counts(docs):
    """Hand bigram counts: five tf=1 grams (the cat, cat sat, the dog,
    dog sat, ein hund) and one tf=2 gram (the the, twice in doc 3) ->
    N_1=5 with r*num = 2*N_2 = 2, N_2=1 with no successor."""
    from extractors_metadata_spark.operators.corpus import good_turing

    rows = {
        r["r"]: (r["n_r"], r["n_r_next"], r["r_star_num"])
        for r in good_turing(docs).collect()
    }
    assert rows == {1: (5, 1, 2), 2: (1, 0, 0)}


def test_tf_idf_scores_and_ranks(docs):
    from extractors_metadata_spark.operators.corpus import tf_idf_topk

    out = {
        (r["doc_id"], r["word"]): (r["score"], r["rank"])
        for r in tf_idf_topk(docs, k=2).collect()
    }
    # doc 1: cat (tf=1, df=1) beats the (tf=1, df=3); sat (df=2) in between
    assert out[(1, "cat")][0] == pytest.approx(math.log(4 / 1))
    assert out[(1, "cat")][1] == 1
    assert out[(1, "sat")][1] == 2
    assert (1, "the") not in out  # rank 3 cut at k=2
    # doc 3: 'the' only word; tf=3
    assert out[(3, "the")][0] == pytest.approx(3 * math.log(4 / 3))


def test_length_quantiles_exact(spark):
    from extractors_metadata_spark.operators.corpus import length_quantiles

    import numpy as np

    vals = [3, 9, 27, 81, 243]
    df = spark.createDataFrame([("en", v) for v in vals], "lang string, n_chars int")
    row = length_quantiles(df).collect()[0]
    assert row["n_docs"] == 5
    for q, col in [(25, "q25"), (50, "q50"), (75, "q75"), (90, "q90")]:
        assert row[col] == pytest.approx(round(float(np.percentile(vals, q)), 6))


def test_repetition_stats_signals(spark):
    from extractors_metadata_spark.operators.corpus import repetition_stats

    rows = [
        (1, "foo bar foo bar foo bar"),  # heavy bigram loop
        (2, "a b c d e f"),              # all distinct
        (3, "word"),                     # single word -> bigram frac 0
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_words"] == 6
    assert out[1]["dup_word_frac"] == pytest.approx(1 - 2 / 6)
    # 'foo bar' appears 3x of 5 adjacent pairs
    assert out[1]["top_bigram_frac"] == pytest.approx(3 / 5)
    assert out[2]["dup_word_frac"] == 0.0
    assert out[3]["top_bigram_frac"] == 0.0


def test_pii_counts_patterns(spark):
    from pyspark.sql import functions as F

    from extractors_metadata_spark.functions.textstats import pii_counts

    df = spark.createDataFrame(
        [(1, "mail a@b.co and c.d+x@e-f.org, see https://x.co/1 call 555-123-4567")],
        "doc_id int, text string",
    )
    cols = pii_counts(F.col("text"))
    r = df.select(*[v.alias(k) for k, v in cols.items()]).collect()[0]
    assert (r["n_emails"], r["n_urls"], r["n_phones"]) == (2, 1, 1)


def test_curation_filter_reasons_first_match(spark):
    from extractors_metadata_spark.operators.corpus import curation_filter

    rows = [
        (1, "tiny doc"),                                   # too_short
        (2, " ".join(["the"] * 40)),                       # repetitive (words fire first)
        (3, " ".join("the quick brown fox jumps over it again and again now so".split()
                     * 3)),                                # repetitive bigrams? -> dup words also high; first-match applies
        (4, " ".join(f"w{i} is of the to and" for i in range(30))),  # long, mixed
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in curation_filter(df).collect()}
    assert out[1]["reject_reason"] == "too_short" and not out[1]["keep"]
    assert out[2]["reject_reason"] == "repetitive_words"
    # every doc gets exactly one verdict and keep == (reason == 'keep')
    for r in out.values():
        assert r["keep"] == (r["reject_reason"] == "keep")


def test_pii_redact_masks_and_order(spark):
    """The frozen email -> url -> phone chain: an email inside a URL path is
    masked first, then the URL mask swallows it; phone runs are masked
    last; clean text passes through byte-identical."""
    from extractors_metadata_spark.functions.textstats import pii_redact

    rows = [
        (0, "mail a@b.com now"),
        (1, "see https://ex.co/a@b.com?x=1 ok"),
        (2, "call +1 (555) 000-1234 today"),
        (3, "plain text stays untouched"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["red"] for r in df.select(
        "doc_id", pii_redact(df.text).alias("red")).collect()}
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "see <URL> ok"
    assert got[2] == "call <PHONE> today"
    assert got[3] == "plain text stays untouched"


def test_gopher_rules_first_fail_branches(spark):
    """One doc per rule branch, first-match order pinned. The passing
    doc needs >= 50 words, mean length in [3,10], two distinct required
    stopwords, and >= 80% alpha words."""
    ok_words = ("the and " + "word " * 48).strip()          # 50 words
    rows = [
        (0, ok_words),                                       # pass
        (1, "short doc"),                                    # word_count
        (2, ("a " * 50).strip()),                            # mean length 1 < 3
        # '####' words are len 4 so mean length passes; 192 '#' symbols
        # against 50 words trip 10 * n_symbols > n_words
        (3, ("the and " + "#### " * 48).strip()),
        # 10 of 11 lines are bullets: 10 * 10 > 9 * 11
        (4, "\n".join(["- b"] * 10) + "\n" + ok_words),
    ]
    from extractors_metadata_spark.operators.corpus import gopher_rules

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[0]["first_fail"] == "pass" and out[0]["keep"]
    assert out[1]["first_fail"] == "word_count"
    assert out[2]["first_fail"] == "mean_word_length"
    assert out[3]["first_fail"] == "symbol_ratio"
    assert out[4]["first_fail"] == "bullet_lines"
    assert out[0]["n_words"] == 50 and out[0]["n_stop_distinct"] == 2


def test_gopher_rules_alpha_and_stopword_gates(spark):
    """alpha_frac: 50 words with 11 digit-words -> 39/50 < 80%;
    stopwords: 50 alpha words with only 'the' -> n_stop_distinct 1."""
    from extractors_metadata_spark.operators.corpus import gopher_rules

    alpha_bad = ("the and " + "word " * 37 + "123 " * 11).strip()
    stop_bad = ("the " + "word " * 49).strip()
    df = spark.createDataFrame(
        [(0, alpha_bad), (1, stop_bad)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[0]["first_fail"] == "alpha_frac"
    assert out[1]["first_fail"] == "stopwords"
    assert out[1]["n_stop_distinct"] == 1


def test_heaps_fit_linear_growth_slope_one(spark):
    """Ten docs with disjoint 3-word vocabularies: each introduces
    exactly one new 3-shingle, so cum_vocab == cum_docs in every bucket
    and the Heaps moments collapse to sx == sy, sxy == sxx (slope
    exactly 1)."""
    from extractors_metadata_spark.operators.corpus import heaps_fit

    rows = [
        (i, f"w{i}a w{i}b w{i}c", "en") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    r = heaps_fit(df).collect()[0]
    assert r["n_points"] == 10
    assert r["sx"] == r["sy"]
    assert r["sxy"] == r["sxx"]


def test_s_stem_rule_table(spark):
    """The published S-stemmer rule/exception table, one word each."""
    from extractors_metadata_spark.operators.corpus import s_stem
    from pyspark.sql import functions as F

    cases = {
        "queries": "query", "eies": "eies", "aies": "aies",
        "dishes": "dishe", "aes": "aes", "trees": "trees", "shoes": "shoes",
        "joins": "join", "bus": "bus", "class": "class",
        "is": "is", "ties": "ties",  # < 3 chars pass; 'ties' hmm
        "cat": "cat",
    }
    # 'ties' ends ies, not eies/aies -> 't'+'y' = 'ty'
    cases["ties"] = "ty"
    df = spark.createDataFrame([(w,) for w in cases], "w string")
    out = dict(
        df.select("w", s_stem(F.col("w")).alias("s")).collect()
    )
    for w, want in cases.items():
        assert out[w] == want, (w, out[w], want)


def test_stem_vocab_folds_forms(spark):
    from extractors_metadata_spark.operators.corpus import stem_vocab

    df = spark.createDataFrame(
        [(0, "join joins joined"), (1, "joins query queries")],
        "doc_id long, text string",
    )
    out = {r["stem"]: r for r in stem_vocab(df).collect()}
    assert out["join"]["tf"] == 3 and out["join"]["n_forms"] == 2
    assert out["query"]["tf"] == 2 and out["query"]["n_forms"] == 2
    assert out["joined"]["tf"] == 1  # -ed untouched: S-stemmer is plural-only


def test_theil_decomp_equal_sizes_zero(spark):
    """All docs the same size: every within term is ln(1) = 0 and the
    between term vanishes when group shares match count shares."""
    from extractors_metadata_spark.operators.corpus import theil_decomp

    rows = [(i, "x", "en" if i < 2 else "de", "w", 50) for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = theil_decomp(df).collect()
    assert all(r["t_g_fp"] == 0 for r in out)
    assert all(r["between_fp"] == 0 for r in out)


def test_theil_decomp_hand_between(spark):
    """Two groups, 1 doc each, sizes 10 and 30: T_g = 0 (singletons),
    between terms (10/40)ln((10/40)(2/1)) and (30/40)ln((30/40)(2/1))."""
    import math
    from extractors_metadata_spark.operators.corpus import theil_decomp

    df = spark.createDataFrame(
        [(0, "x", "en", "w", 10), (1, "x", "de", "w", 30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["lang"]: r for r in theil_decomp(df).collect()}
    assert out["en"]["t_g_fp"] == 0 and out["de"]["t_g_fp"] == 0
    assert out["en"]["between_fp"] == round((10 / 40) * math.log((10 / 40) * 2) * 1e12)
    assert out["de"]["between_fp"] == round((30 / 40) * math.log((30 / 40) * 2) * 1e12)
