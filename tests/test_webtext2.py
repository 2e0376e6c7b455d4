"""Webtext pipeline tranche 2: PII redaction, Gopher/C4 quality
filter, stratified sampling, paragraph dedup, BM25 + inverted index.

Each operator's catalog query is gate-scored against a DuckDB oracle
(tools/check_queries.py); these tests pin the SEMANTICS on hand-built
edge cases the synthetic corpus can't exercise.
"""

import math

import pytest
from pyspark.sql import functions as F


def test_redact_pii_classes_and_sequence(spark):
    from geos_spark.operators.pii import redact_pii

    rows = [
        (1, "mail a.b+c@ex-am.ple.org and 10.0.0.1 now"),
        (2, "ssn 123-45-6789 phone 555-123-4567 plain"),
        (3, "no pii here at all"),
        (4, "two mails x@y.zw and w@v.uk"),
        # ip then ssn-shaped digits inside a phone — sequential
        # contract: ip redacted first, ssn before phone
        (5, "999.999.999.999 and 111-22-3333"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in redact_pii(df).collect()
    }
    assert out[1]["n_email"] == 1 and out[1]["n_ip"] == 1
    assert "<EMAIL>" in out[1]["text_redacted"]
    assert "<IP>" in out[1]["text_redacted"]
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 1
    assert out[2]["text_redacted"] == "ssn <SSN> phone <PHONE> plain"
    assert out[3]["text_redacted"] == "no pii here at all"
    assert sum(out[3][c] for c in ("n_email", "n_ip", "n_ssn", "n_phone")) == 0
    assert out[4]["n_email"] == 2
    assert out[5]["n_ip"] == 1 and out[5]["n_ssn"] == 1


def test_gopher_rules_edges(spark):
    from geos_spark.operators.text import gopher_rules

    rows = [
        (1, "the and of to in is was for good text here all fine"),
        (2, "short"),  # fails r_words (min 5)
        (3, "pharmacological internationalization " * 5),  # long words
        (4, "the of # # # # is to"),  # symbol-heavy
        (5, "the of javascript is to in here now"),  # blocklist
        (6, "zz qq ww ee rr tt yy uu"),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["r_words"] is False and out[2]["keep"] is False
    assert out[3]["r_mean_len"] is False
    assert out[4]["r_symbols"] is False
    assert out[5]["r_blocklist"] is False
    assert out[6]["r_stopwords"] is False


def test_stratified_sample_determinism(spark):
    from geos_spark.operators.sampling import stratified_sample

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("xx")
        .alias("lang"),
    )
    frac = {"en": 0.5, "de": 0.1}
    a = stratified_sample(df, frac, salt="t")
    b = stratified_sample(df.repartition(17), frac, salt="t")
    ids_a = {r["doc_id"] for r in a.collect()}
    ids_b = {r["doc_id"] for r in b.collect()}
    # partitioning-invariant
    assert ids_a == ids_b
    by_lang = {
        r["lang"]: r["n"]
        for r in a.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # en ~ 0.5 * 1334, de ~ 0.1 * 1333, default 0 for 'xx'
    assert 520 <= by_lang["en"] <= 810
    assert 60 <= by_lang["de"] <= 220
    assert "xx" not in by_lang
    # independent salts draw different sets
    c = stratified_sample(df, frac, salt="u")
    assert {r["doc_id"] for r in c.collect()} != ids_a


def test_paragraph_dedup_first_occurrence(spark):
    from geos_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "shared\nuniq1"),
        (2, "shared\nuniq2\nshared"),  # in-doc repeat also deduped
        (3, "shared"),  # fully boilerplate -> empty
        (4, "uniq4\nshared"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["clean_text"] == "shared\nuniq1"
    assert out[1]["n_paras"] == 2 and out[1]["n_paras_kept"] == 2
    assert out[2]["clean_text"] == "uniq2"
    assert out[2]["n_paras"] == 3 and out[2]["n_paras_kept"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_paras_kept"] == 0
    assert out[4]["clean_text"] == "uniq4"


def test_bm25_closed_form(spark):
    from geos_spark.operators.ranking import bm25_scores

    rows = [
        (1, "cat dog cat"),
        (2, "dog bird"),
        (3, "fish fish fish"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r for r in bm25_scores(df, ["cat", "dog"]).collect()
    }
    n, avgdl = 3, (3 + 2 + 3) / 3.0
    k1, b = 1.2, 0.75

    def idf(dft):
        return math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)

    def part(tf, dl):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = idf(1) * part(2, 3) + idf(2) * part(1, 3)
    exp2 = idf(2) * part(1, 2)
    assert out[1]["n_hits"] == 2
    assert out[1]["score"] == pytest.approx(exp1, rel=1e-12)
    assert out[2]["score"] == pytest.approx(exp2, rel=1e-12)
    assert 3 not in out
    # higher-tf doc with equal dl outranks
    assert out[1]["score"] > out[2]["score"]


def test_inverted_index_postings(spark):
    from geos_spark.operators.ranking import inverted_index

    df = spark.createDataFrame(
        [(1, "a b a c a"), (2, "c a")], "doc_id int, text string"
    )
    out = {
        (r["term"], r["doc_id"]): r
        for r in inverted_index(df).collect()
    }
    assert out[("a", 1)]["tf"] == 3
    assert out[("a", 1)]["first_pos"] == 0
    assert out[("a", 1)]["last_pos"] == 4
    assert out[("c", 2)]["first_pos"] == 0
    assert out[("a", 2)]["tf"] == 1
    assert len(out) == 5


def test_decontaminate_flags(spark):
    from geos_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "unrelated words entirely different here now"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta epsilon yy")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(corpus, bench, k=5).collect()
    }
    # doc 1 shares the 5-gram "alpha beta gamma delta epsilon"
    assert out[1]["contaminated"] == 1 and out[1]["n_contam"] == 1
    assert out[2]["contaminated"] == 0
    assert out[3]["contaminated"] == 0
    assert out[4]["contaminated"] == 0 and out[4]["n_grams"] == 0
    assert out[1]["n_grams"] == 2  # 6 words -> two 5-grams


def test_char_entropy_closed_form(spark):
    import math

    from geos_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, ""), (4, "aabb")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["e"]
        for r in df.select(
            "doc_id", char_entropy(F.col("text")).alias("e")
        ).collect()
    }
    assert out[1] == pytest.approx(0.0)
    assert out[2] == pytest.approx(math.log(2), rel=1e-12)
    assert out[3] == pytest.approx(0.0)
    assert out[4] == pytest.approx(math.log(2), rel=1e-12)


def test_pack_shards_prefix_sum(spark):
    from geos_spark.operators.sampling import pack_shards

    df = spark.createDataFrame(
        [(i, 10 * (i % 3 + 1)) for i in range(100)],
        "doc_id int, n_tokens int",
    )
    out = pack_shards(
        df, 25, size_col="n_tokens", order_col="doc_id", num_ranges=7
    ).collect()
    got = {r["doc_id"]: r for r in out}
    run = 0
    for i in range(100):
        r = got[i]
        assert r["global_offset"] == run, i
        assert r["shard_id"] == run // 25
        assert r["shard_offset"] == run % 25
        run += 10 * (i % 3 + 1)
    # partitioning-count invariance
    out2 = pack_shards(
        df.repartition(13), 25, size_col="n_tokens",
        order_col="doc_id", num_ranges=3,
    ).collect()
    assert {r["doc_id"]: r["global_offset"] for r in out2} == {
        r["doc_id"]: r["global_offset"] for r in out
    }


def test_streaming_pii_incremental(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F811

    from geos_spark.streaming import (
        run_stream_to_memory,
        streaming_pii_scrub,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "mail a@b.cd here")], "doc_id int, text string"
    ).write.parquet(src)
    spark.createDataFrame(
        [(2, "clean row")], "doc_id int, text string"
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out, q = run_stream_to_memory(
        streaming_pii_scrub(s), spark, output_mode="append"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_email"] == 1
    assert rows[1]["text_redacted"] == "mail <EMAIL> here"
    assert rows[2]["n_email"] == 0
    # incremental: more than one micro-batch under maxFilesPerTrigger=1
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2


def test_zipf_fit_synthetic(spark):
    import math

    from geos_spark.operators.ranking import zipf_fit

    # construct a corpus whose term counts are exactly c_r = 2^(8-r):
    # ln c = 8 ln 2 - (ln 2 / ln r) ... not linear in ln r, so instead
    # check a perfect power law c_r = 1024 / r for r = 1..8
    rows = []
    did = 0
    for r in range(1, 9):
        cnt = 1024 // r
        for _ in range(cnt):
            rows.append((did, f"w{r:02d}"))
            did += 1
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = zipf_fit(df, top_k=8).collect()[0]
    assert out["n_terms"] == 8
    # counts 1024//r are near-exactly 1024/r -> slope ~ -1
    assert out["slope"] == pytest.approx(-1.0, abs=0.01)
    assert out["r2"] > 0.999
    assert math.exp(out["intercept"]) == pytest.approx(1024, rel=0.02)


def test_remove_dup_ngrams_surgical(spark):
    """ExactSubstr removal semantics on hand-built cases: cross-doc
    dup spans cut, within-doc repeats cut, overlapping spans merged,
    short/NULL/whitespace docs pass through."""
    from geos_spark.operators.dedup import remove_dup_ngrams

    rows = [
        (1, "the quick brown fox jumps over unique alpha"),
        (2, "the quick brown fox sleeps under unique beta"),
        # within-doc repeated trigram "a b c"
        (3, "a b c x y z a b c"),
        (4, "totally singular content here"),
        (5, "xy zz"),          # shorter than n: untouched
        (6, None),
        (7, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r for r in remove_dup_ngrams(df, n=3).collect()
    }
    # docs 1/2 share "the quick brown" and "quick brown fox":
    # covered words 0..3 cut from both
    assert out[1]["clean_text"] == "jumps over unique alpha"
    assert out[1]["n_words"] == 8 and out[1]["n_removed"] == 4
    assert out[2]["clean_text"] == "sleeps under unique beta"
    # doc 3: "a b c" occurs twice (pos 0 and 6) -> both spans cut
    assert out[3]["clean_text"] == "x y z"
    assert out[3]["n_removed"] == 6
    assert out[4]["clean_text"] == "totally singular content here"
    assert out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "xy zz" and out[5]["n_removed"] == 0
    assert out[6]["clean_text"] is None and out[6]["n_words"] == 0
    assert out[7]["clean_text"] is None and out[7]["n_words"] == 0


def test_remove_dup_ngrams_full_cut(spark):
    """A fully-duplicated doc collapses to the empty string."""
    from geos_spark.operators.dedup import remove_dup_ngrams

    rows = [(1, "copy pasta page"), (2, "copy pasta page")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in remove_dup_ngrams(df, n=3).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 3
    assert out[2]["clean_text"] == ""
