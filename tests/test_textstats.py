"""Language ID heuristic on real-language samples, quality kernel,
tf-idf math and the shared whitespace tokenizer."""

import pyspark.sql.functions as F

from kg.textstats import detect_lang, lang_id, quality_features

SAMPLES = [
    ("the cat sat on the mat and it was happy with this", "en"),
    ("le chat est dans la maison avec une souris pour le fromage", "fr"),
    ("el gato es un animal que vive en la casa con los ninos", "es"),
    ("der hund ist ein tier und die katze ist nicht klein", "de"),
    ("今天天气很好我们一起去公园散步吧这是一个测试", "zh"),
]


def test_detect_lang_kernel():
    for text, want in SAMPLES:
        assert detect_lang(text) == want, text
    assert detect_lang("") == "und"
    assert detect_lang("zzz qqq xxx") == "und"


def test_lang_id_spark_path(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(SAMPLES)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert got == {i: w for i, (_, w) in enumerate(SAMPLES)}


def test_quality_features(spark):
    df = spark.createDataFrame(
        [
            (1, "clean simple text with seven tokens here"),
            (2, "1 2 3 4 5 6 7 8 9 0 11 22"),
            (3, "x"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert rows[1]["keep"] == 1
    assert rows[2]["keep"] == 0  # digit soup
    assert rows[3]["keep"] == 0  # too short
    assert rows[1]["n_tokens"] == 7


DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_tfidf_matches_python_math(spark):
    """tf-idf on a 3-doc corpus with hand-checkable counts equals
    round(tf * ln(N/df), 4) from Python's math.log, with (score desc,
    term) ranking."""
    import math

    from kg.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana", "en", "s", 0),
            (2, "banana cherry", "en", "s", 0),
            (3, "cherry cherry cherry", "en", "s", 0),
        ],
        DOCS_SCHEMA,
    )
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"], r["rk"])
        for r in tfidf_topk(docs, k=5).collect()
    }
    s = lambda tf, df: round(tf * math.log(3.0 / df), 4)
    assert got == {
        (1, "apple"): (2, 1, s(2, 1), 1),
        (1, "banana"): (1, 2, s(1, 2), 2),
        (2, "banana"): (1, 2, s(1, 2), 1),  # score tie -> term asc
        (2, "cherry"): (1, 2, s(1, 2), 2),
        (3, "cherry"): (3, 2, s(3, 2), 1),
    }, got


def test_exotic_whitespace_one_token_stream_everywhere(spark):
    """Every corpus-text tokenizer shares ws_tokens' explicit
    whitespace class. A document whose words are separated by tabs,
    newlines, CR, form-feed, vertical tab, and multi-space runs must
    produce the SAME token stream in tf-idf, quality stats, span-dup
    profiling and shingling."""
    import re
    from collections import Counter

    from kg.dedup import shingles_df, substring_dup_stats
    from kg.relational import WS_REGEX
    from kg.textstats import tfidf_topk

    text = "alpha\tbeta\n\ngamma \x0b delta\r\nepsilon  zeta\fbeta gamma"
    expected = [t for t in re.split("[ \t\n\x0b\f\r]+", text) if t]
    assert expected == [
        "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "beta", "gamma"
    ]
    # the test is only meaningful if the regex classes agree
    assert re.sub(r"\\+", "\\\\", WS_REGEX) in ("[ \\t\\n\\x0B\\f\\r]+",)
    docs = spark.createDataFrame([(1, text, "en", "s", len(text))], DOCS_SCHEMA)

    tf = {r["term"]: r["tf"] for r in tfidf_topk(docs, k=10).collect()}
    assert tf == dict(Counter(expected))

    q = quality_features(docs).collect()[0]
    assert q["n_tokens"] == len(expected)

    # bigram shingles cross every whitespace flavor
    sh = {r["shingle"] for r in shingles_df(docs, n=2).collect()}
    assert sh == {f"{a} {b}" for a, b in zip(expected, expected[1:])}

    # span-dup profile counts token bigrams, not space-delimited blobs
    stats = substring_dup_stats(docs, n=2).collect()[0]
    assert stats["n_grams"] == len(expected) - 1
