"""Gopher quality gates, stratified sampling, n-gram counts, skew
profile — value-exact unit tests on crafted rows."""

import warnings

from pyspark.sql import functions as F

from dataset_grouper_spark.functions import quality, vocab
from dataset_grouper_spark.operators import profile, sessions


def test_gopher_signals_and_keep(spark):
    good = " ".join(["the quick brown fox and that dog have fun with it"] * 6)
    docs = [
        (1, good),  # 60 words, stopwords present -> keep
        (2, "too short of a doc"),  # < 50 words
        (3, "- a\n- b\n- c"),  # all bullet lines
        (4, "x...\ny...\nz plain"),  # 2/3 ellipsis lines
        (5, None),  # null text
        (6, " ".join(["####"] * 60)),  # symbol soup, no stopwords
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    rows = {r.doc_id: r for r in quality.gopher_quality(df, "text", "doc_id").collect()}
    assert rows[1].keep and rows[1].word_count == 66
    assert rows[1].stop_hits >= 4
    assert not rows[2].keep and rows[2].word_count == 5
    assert rows[3].bullet_frac == 1.0 and not rows[3].keep
    assert rows[4].ellipsis_frac == round(2 / 3, 4) and not rows[4].keep
    assert rows[5].word_count == 0 and not rows[5].keep
    assert rows[6].symbol_ratio == 4.0 and not rows[6].keep


def test_stratified_sample_respects_fractions(spark):
    df = spark.createDataFrame(
        [(i, ["wiki", "web", "junk"][i % 3]) for i in range(3000)],
        "doc_id: long, source: string",
    )
    kept = sessions.stratified_sample(
        df, "source", "doc_id", {"wiki": 100, "web": 30}, default_pct=0
    )
    by_src = {
        r.source: r.n for r in kept.groupBy("source").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_src["wiki"] == 1000          # 100% stratum is exact
    assert "junk" not in by_src            # 0% stratum is exact
    assert 200 <= by_src["web"] <= 400     # ~30% of 1000, hash noise
    # deterministic: the same call returns the same rows
    again = sessions.stratified_sample(
        df, "source", "doc_id", {"wiki": 100, "web": 30}, default_pct=0
    )
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    # a different salt draws a different web sample
    other = sessions.stratified_sample(
        df, "source", "doc_id", {"web": 30}, default_pct=0, salt=99
    )
    assert {r.doc_id for r in other.collect()} != {
        r.doc_id for r in kept.filter(F.col("source") == "web").collect()
    }
    # the map lookup uses the supported form: a Column key in getItem
    # is deprecated (FutureWarning) and slated for removal
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sessions.stratified_sample(df, "source", "doc_id", {"web": 30})


def test_stratified_sample_sql_twin_matches_on_negative_ids(spark):
    # DuckDB % follows the dividend's sign; the twin must use the
    # pmod spelling so negative ids bucket identically to Spark
    import duckdb

    rows = [(i, ["wiki", "web"][i % 2]) for i in range(-500, 500)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    fractions = {"wiki": 40, "web": 15}
    spark_ids = sorted(
        r.doc_id
        for r in sessions.stratified_sample(
            df, "source", "doc_id", fractions, default_pct=0, salt=7
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ",".join(f"({i},'{s}')" for i, s in rows)
        + ") t(doc_id, source)"
    )
    sql = sessions.stratified_sample_sql(
        "docs", "source", "doc_id", fractions, default_pct=0, salt=7
    )
    duck_ids = sorted(r[0] for r in con.execute(sql).fetchall())
    assert spark_ids == duck_ids and any(i < 0 for i in spark_ids)


def test_ngram_counts_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b c"), (3, ""), (4, None), (5, "solo")],
        "doc_id: long, text: string",
    )
    got = {
        r.gram: r.n_occurrences
        for r in vocab.ngram_counts(df, "text", n=2).collect()
    }
    assert got == {"a b": 3, "b a": 2, "b c": 1}
    top1 = vocab.ngram_counts(df, "text", n=2, top_k=1).collect()
    assert [(r.gram, r.n_occurrences) for r in top1] == [("a b", 3)]


def test_key_skew_profile_values(spark):
    # key 7 holds 60 of 100 rows; 40 singleton keys; one NULL key
    rows = [(7,)] * 60 + [(i,) for i in range(100, 140)] + [(None,)]
    df = spark.createDataFrame(rows, "k: long")
    prof = profile.key_skew_profile(df, "k", top_n=3).collect()
    assert prof[0].key == "7" and prof[0].cnt == 60
    assert abs(prof[0].share - 60 / 101) < 1e-6
    # skew_x = cnt * n_keys / total = 60 * 42 / 101
    assert abs(prof[0].skew_x - 60 * 42 / 101) < 1e-4
    assert prof[1].cnt == 1  # ties broken by key string asc
    assert {r.cnt for r in prof[1:]} == {1}


def test_vocabulary_index_rank_contract(spark):
    df = spark.createDataFrame(
        [("b",), ("b",), ("b",), ("a",), ("a",), ("c",), (None,)],
        "lang: string",
    )
    out = {
        r["value"]: (r["index"], r["n_occurrences"])
        for r in vocab.vocabulary_index(df, "lang").collect()
    }
    # freq desc, value asc; NULL dropped
    assert out == {"b": (0, 3), "a": (1, 2), "c": (2, 1)}


def test_encode_indexed_unseen_is_minus_one(spark):
    fit = spark.createDataFrame(
        [("b",), ("b",), ("a",)], "lang: string"
    )
    idx = vocab.vocabulary_index(fit, "lang")
    data = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "zz"), (4, None)],
        "doc_id: long, lang: string",
    )
    out = {
        r["doc_id"]: r["lang_idx"]
        for r in vocab.encode_indexed(data, "lang", idx).collect()
    }
    assert out == {1: 1, 2: 0, 3: -1, 4: -1}
