"""Unit tests for text / hashing / vector column functions."""

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openseizuredatabase_spark.functions import vectors as vec_fn
from openseizuredatabase_spark.functions.hashing import md5_long, seeded_md5_long
from openseizuredatabase_spark.functions.text import (
    fingerprint,
    normalized_text,
    punct_count,
    stopword_count_expr,
    token_count,
    tokens,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(id=1, text="The quick, brown fox!  Jumps."),
            Row(id=2, text="  the   QUICK brown fox  "),
            Row(id=3, text=""),
            Row(id=4, text="der und die das"),
        ]
    )


def test_tokens_and_count(docs):
    out = docs.select("id", tokens(F.col("text")).alias("t"),
                      token_count(F.col("text")).alias("n")).collect()
    by_id = {r.id: (r.t, r.n) for r in out}
    assert by_id[1] == (["The", "quick,", "brown", "fox!", "Jumps."], 5)
    assert by_id[2][1] == 4  # whitespace runs collapse
    assert by_id[3] == ([], 0)  # empty → empty array, not ['']


def test_punct_count(docs):
    out = {r.id: r.n for r in docs.select(
        "id", punct_count(F.col("text")).alias("n")).collect()}
    assert out[1] == 3  # comma, bang, period
    assert out[3] == 0


def test_stopword_count_langs(docs):
    en = {r.id: r.n for r in docs.select(
        "id", stopword_count_expr("text", "en").alias("n")).collect()}
    de = {r.id: r.n for r in docs.select(
        "id", stopword_count_expr("text", "de").alias("n")).collect()}
    assert en[1] == 1  # 'The'
    assert en[2] == 1
    assert de[4] == 4


def test_fingerprint_normalization_collapses_case_and_ws(docs):
    out = {r.id: r.fp for r in docs.select(
        "id", fingerprint(F.col("text")).alias("fp")).collect()}
    norm = {r.id: r.n for r in docs.select(
        "id", normalized_text(F.col("text")).alias("n")).collect()}
    assert norm[2] == "the quick brown fox"
    # doc 1 has punctuation so fingerprints differ; but same-normal-form match:
    assert out[2] == hashlib.md5(b"the quick brown fox").hexdigest()


def test_md5_long_matches_python(spark):
    df = spark.createDataFrame([Row(s="abc")])
    got = df.select(md5_long(F.col("s")).alias("h")).collect()[0].h
    expect = int(hashlib.md5(b"abc").hexdigest()[:15], 16)
    assert got == expect


def test_seeded_md5_long_is_seed_dependent(spark):
    df = spark.createDataFrame([Row(s="abc")])
    h0 = df.select(seeded_md5_long(F.col("s"), 0).alias("h")).collect()[0].h
    h1 = df.select(seeded_md5_long(F.col("s"), 1).alias("h")).collect()[0].h
    assert h0 != h1
    assert h0 == int(hashlib.md5(b"0:abc").hexdigest()[:15], 16)


def test_vector_dot_norm_cosine(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 2.0], b=[2.0, 0.0, 1.0])])
    row = df.select(
        vec_fn.dot(F.col("a"), F.col("b")).alias("d"),
        vec_fn.norm(F.col("a")).alias("na"),
        vec_fn.cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert row.d == 4.0
    assert row.na == 3.0
    assert math.isclose(row.c, 4.0 / (3.0 * math.sqrt(5.0)))


def test_hyperplane_deterministic():
    p1 = vec_fn.hyperplane(42, 0, 8)
    p2 = vec_fn.hyperplane(42, 0, 8)
    p3 = vec_fn.hyperplane(42, 1, 8)
    assert p1 == p2
    assert p1 != p3
    assert all(-1.0 <= c < 1.0 for c in p1)


def test_lsh_bucket_range(spark):
    df = spark.createDataFrame([Row(v=[float(i) for i in range(8)])])
    b = df.select(
        vec_fn.lsh_bucket(F.col("v"), seed=1, n_bits=4, dim=8).alias("b")
    ).collect()[0].b
    assert 0 <= b < 16


def test_bpe_token_count_matches_python_regex(spark):
    import re

    from pyspark.sql import functions as F

    from openseizuredatabase_spark.functions.text import (
        BPE_TOKEN_PATTERN,
        bpe_token_count,
    )

    samples = [
        "Hello, world! It's 2024... don't stop",
        "we've it'll they're I'm you'd",
        "snake_case kebab-case CamelCase x1y2z3",
        "",
        "   ",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r[0] for r in df.select(bpe_token_count(F.col("t"))).collect()]
    pat = re.compile(BPE_TOKEN_PATTERN)
    assert got == [len(pat.findall(s)) for s in samples]
    # contractions split off as separate subword tokens: don + 't
    one = spark.createDataFrame([("don't",)], "t string")
    assert one.select(bpe_token_count(F.col("t"))).collect()[0][0] == 2


def test_html_to_text_extraction(spark):
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.text import html_to_text

    html = (
        "<html><head><style>h1 { x: 1; }</style>"
        "<script>if (a < b && c > d) { alert('hi</b>'); }</script></head>"
        "<body><!-- strip\nme --><h1 class=\"big\">A &amp; B</h1>"
        "<p>one&nbsp;two &lt;tag&gt; &#39;q&#39; &amp;amp;</p></body>"
    )
    df = spark.createDataFrame([Row(s=html)])
    out = df.select(html_to_text(F.col("s")).alias("t")).head()["t"]
    assert out == "A & B one two <tag> 'q' &amp;"


def test_normalize_text_ftfy_lite(spark):
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.text import normalize_text

    messy = (
        chr(0x2018) + "a" + chr(0x2019) + " " + chr(0x201C) + "b"
        + chr(0x201D) + chr(0xA0) + "c" + chr(0x2014) + "d\r\ne"
        + chr(0x200B) + "f" + chr(0x2026) + chr(0x0007)
    )
    df = spark.createDataFrame([Row(s=messy)])
    out = df.select(normalize_text(F.col("s")).alias("t")).head()["t"]
    assert out == "'a' \"b\" c-d\nef..."


def test_rows_frame_above_literal_cap_equals_literal_path(spark):
    from openseizuredatabase_spark.functions.literal import literal_df, rows_frame

    rows = [(i, f"n{i}", i / 7) for i in range(20_001)]
    ddl = "id long, name string, x double"
    big = rows_frame(spark, rows, ddl)
    lit = literal_df(spark, rows, ddl)
    # nullability may differ (a VALUES column is non-nullable); names,
    # types and rows may not
    assert big.dtypes == lit.dtypes
    assert sorted(big.collect()) == sorted(lit.collect())
