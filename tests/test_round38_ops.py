"""Round-38 operators: ExactSubstr-style duplicated character spans.

``duplicated_char_spans`` must report exactly the characters covered by
cross-document duplicated k-grams, merged into maximal per-document
spans — and must NOT report within-document-only repetition (the
cross-doc doc-frequency gate is the contract; within-doc repeats are
``repetition_stats``' job).
"""

from __future__ import annotations

import string

import pytest

from jibaro_spark.operators.dedup import duplicated_char_spans

# 60 distinct characters — no internal k-gram repeats, so the span
# algebra below is exact by construction.
SHARED = string.ascii_letters + "01234567"
K = 40


def test_shared_substring_yields_one_merged_span_per_doc(spark):
    d1 = "A" * 50 + SHARED + "B" * 50  # SHARED at 1-based [51, 110]
    d2 = "C" * 30 + SHARED + "D" * 10  # SHARED at 1-based [31, 90]
    d3 = "E" * 100  # within-doc repeats only -> absent
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in duplicated_char_spans(df, "doc_id", "text", k=K).collect()
    }
    assert set(rows) == {1, 2}
    # grams fully inside SHARED: 60 - K + 1 = 21 start positions
    assert rows[1]["span_start"] == 51 and rows[1]["span_end"] == 110
    assert rows[2]["span_start"] == 31 and rows[2]["span_end"] == 90
    for r in rows.values():
        assert r["span_chars"] == 60
        assert r["n_dup_grams"] == 60 - K + 1


def test_distant_shared_substrings_stay_separate_spans(spark):
    # two shared 40-grams separated by >k unique chars -> two islands
    g1, g2 = SHARED[:40], SHARED[20:60]
    d1 = g1 + "x" * 45 + g2
    d2 = "y" * 7 + g1 + "z" * 50 + g2
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    out = duplicated_char_spans(df, "doc_id", "text", k=K)
    per_doc = (
        out.groupBy("doc_id").count().orderBy("doc_id").collect()
    )
    assert [r["count"] for r in per_doc] == [2, 2]


def test_short_docs_and_guards(spark):
    df = spark.createDataFrame(
        [(1, "tiny"), (2, None), (3, SHARED), (4, SHARED)],
        "doc_id long, text string",
    )
    # docs 3 and 4 are identical 60-char texts -> full-cover spans
    rows = {
        r["doc_id"]: r
        for r in duplicated_char_spans(df, "doc_id", "text", k=K).collect()
    }
    assert set(rows) == {3, 4}
    assert rows[3]["span_start"] == 1 and rows[3]["span_end"] == 60
    with pytest.raises(ValueError):
        duplicated_char_spans(df, "doc_id", "text", k=1)
    with pytest.raises(ValueError):
        duplicated_char_spans(df, "doc_id", "text", min_docs=1)


def test_fixture_query_is_nonvacuous(spark, sf_dir):
    from jibaro_spark.queries.dedup import q_exact_substring_spans

    out = q_exact_substring_spans(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert r["span_end"] - r["span_start"] + 1 == r["span_chars"]
        assert r["span_chars"] >= K
