"""The Arrow gram kernel (`_grams_arrow`, round-15 default for
`shingles` / `ngram_occurrences`) must be EXACTLY equivalent to the
posexplode+lead JVM reference forms it replaced (`shingles_jvm`,
`ngram_occurrences_jvm`): same schema, same distinct shingle sets, same
gram-occurrence multisets — over the driver fixture AND adversarial
token shapes (NULL text, empty string, sub-n docs, exactly-n docs,
leading/trailing/consecutive spaces producing empty tokens, duplicate
grams, unicode, carried keep_cols with NULLs).

The split rule must match F.split(text, " ") (Java regex " ", limit -1):
empty tokens from leading/trailing/consecutive spaces are REAL tokens
and participate in grams. Any drift shows as a row mismatch here long
before the oracle sees it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from e02_spark.ops.text import (
    ngram_occurrences,
    ngram_occurrences_jvm,
    repetition_metrics,
    repetition_metrics_jvm,
    shingles,
    shingles_jvm,
)

SF_SMALL = "/root/testdata/sf0.001"

ADVERSARIAL = [
    (0, None),                      # NULL text -> 0 grams
    (1, ""),                        # one empty token -> 0 grams for n>=2
    (2, "solo"),                    # sub-n
    (3, "two tokens"),              # n=2 boundary: 1 bigram, 0 trigrams
    (4, "a b c"),                   # exactly 3 tokens: 1 trigram
    (5, "a b c d e"),               # plain
    (6, " lead"),                   # leading space -> empty first token
    (7, "trail "),                  # trailing space -> empty last token
    (8, "a  b"),                    # double space -> empty middle token
    (9, "   "),                     # 4 empty tokens -> grams of empties
    (10, "x y x y x y"),            # duplicate grams (dedup path)
    (11, "héllo wörld héllo wörld"),  # unicode
    (12, "a b a b a b a b a b a b a b"),
]


def _adv_df(spark, with_keep: bool = False):
    fields = [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
    rows = [(i, t) for i, t in ADVERSARIAL]
    if with_keep:
        fields.insert(1, StructField("source", StringType()))
        fields.insert(2, StructField("grp", IntegerType()))
        rows = [
            (i, None if i % 3 == 0 else f"s{i % 2}", i % 4, t)
            for i, t in ADVERSARIAL
        ]
        fields = [fields[0], fields[2], fields[3], fields[1]]
        # (doc_id, source, grp, text)
        fields = [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("grp", IntegerType()),
            StructField("text", StringType()),
        ]
    return spark.createDataFrame(rows, StructType(fields))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_matches_jvm_adversarial(spark, n):
    d = _adv_df(spark)
    a, j = shingles(d, n=n), shingles_jvm(d, n=n)
    assert a.schema == j.schema
    assert _rows(a) == _rows(j)


@pytest.mark.parametrize("n", [2, 3])
def test_shingles_matches_jvm_on_fixture(spark, n):
    from e02_spark.io import load_table

    d = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    a, j = shingles(d, n=n), shingles_jvm(d, n=n)
    assert a.schema == j.schema
    ra, rj = _rows(a), _rows(j)
    assert len(ra) > 0
    assert ra == rj


@pytest.mark.parametrize("n", [2, 3, 5])
def test_ngram_occurrences_matches_jvm_adversarial(spark, n):
    d = _adv_df(spark)
    a = ngram_occurrences(d, n)
    j = ngram_occurrences_jvm(d, n)
    assert a.schema == j.schema
    # occurrence MULTISET equality (the JVM window form fixes no global
    # order either — downstream consumers aggregate)
    assert _rows(a) == _rows(j)


def test_ngram_occurrences_keep_cols_matches_jvm(spark):
    d = _adv_df(spark, with_keep=True)
    for keep in [("source",), ("source", "grp")]:
        a = ngram_occurrences(d, 2, keep_cols=keep)
        j = ngram_occurrences_jvm(d, 2, keep_cols=keep)
        assert a.schema == j.schema
        assert _rows(a) == _rows(j)


def test_ngram_occurrences_matches_jvm_on_fixture(spark):
    from e02_spark.io import load_table

    d = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    for n in (2, 3):
        a, j = ngram_occurrences(d, n), ngram_occurrences_jvm(d, n)
        ra, rj = _rows(a), _rows(j)
        assert len(ra) > 0
        assert ra == rj


def test_repetition_metrics_matches_jvm_adversarial(spark):
    d = _adv_df(spark)
    a, j = repetition_metrics(d), repetition_metrics_jvm(d)
    assert a.schema == j.schema
    ra, rj = _rows(a), _rows(j)
    # sub-3-token and NULL docs are absent in BOTH (the composed form's
    # inner join dropped them); doubles must be BIT-identical (same
    # IEEE division over the same exact integers)
    assert {r[0] for r in ra} == {i for i, t in ADVERSARIAL
                                  if t is not None and len(t.split(" ")) >= 3}
    assert ra == rj


def test_repetition_metrics_matches_jvm_on_fixture(spark):
    from e02_spark.io import load_table

    d = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    a, j = repetition_metrics(d), repetition_metrics_jvm(d)
    assert a.schema == j.schema
    ra, rj = _rows(a), _rows(j)
    assert len(ra) > 0
    assert ra == rj


def test_shingles_per_doc_dedup_and_gating(spark):
    d = _adv_df(spark)
    got = {
        (r.doc_id, r.shingle)
        for r in shingles(d, n=2).collect()
    }
    # doc 10 "x y x y x y": occurrences 5, distinct bigrams 2
    assert {(10, "x y"), (10, "y x")} == {g for g in got if g[0] == 10}
    occ10 = [r for r in ngram_occurrences(d, 2).collect() if r.doc_id == 10]
    assert len(occ10) == 5
    # NULL and sub-n docs yield nothing
    assert not [g for g in got if g[0] in (0, 1, 2)]
    # empty tokens are real tokens: " lead" -> ("", "lead") -> 1 bigram
    assert {g for g in got if g[0] == 6} == {(6, " lead")}
    assert {g for g in got if g[0] == 9} == {(9, " ")}


@pytest.mark.parametrize("chunk", [1, 2, 3])
def test_gram_kernel_multi_chunk_matches_jvm(spark, monkeypatch, chunk):
    """With GRAM_BATCH_ROWS below the gram count of most adversarial docs,
    the kernel flushes mid-document and across documents; the rows must
    still equal the JVM reference forms'."""
    from e02_spark.ops import text

    monkeypatch.setattr(text, "GRAM_BATCH_ROWS", chunk)
    d, dk = _adv_df(spark), _adv_df(spark, with_keep=True)
    for n in (2, 3):
        assert _rows(shingles(d, n=n)) == _rows(shingles_jvm(d, n=n))
        assert _rows(ngram_occurrences(d, n)) == _rows(ngram_occurrences_jvm(d, n))
    keep = ("source", "grp")
    assert _rows(ngram_occurrences(dk, 2, keep_cols=keep)) == _rows(
        ngram_occurrences_jvm(dk, 2, keep_cols=keep)
    )
