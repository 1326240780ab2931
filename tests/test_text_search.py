"""Fast-tier gates for ``text.search_ranked``, the jar's TF -> TF-IDF ->
Search -> Rank chain, against a pure-Python replay of the same scoring
(the end-to-end file pipeline gates live in the slow tier)."""

from __future__ import annotations

import math
import re

import pytest

from pagerank_mapreduce_implementation_spark.operators import text


def py_search(docs: dict, terms: list[str], total_docs: int | None = None,
              pattern: str = text.TOKEN_WS_RE) -> dict:
    """Per doc, the sum over the distinct terms it contains of
    ``(1 + log10 count) * log10(1 + N / df)``: tokens lowercased, terms
    matched exactly, N the document count unless given."""
    n = len(docs) if total_docs is None else total_docs
    counts: dict[tuple, int] = {}
    for doc, body in docs.items():
        for tok in re.split(pattern, body):
            if tok:
                key = (doc, tok.lower())
                counts[key] = counts.get(key, 0) + 1
    df: dict[str, int] = {}
    for _, w in counts:
        df[w] = df.get(w, 0) + 1
    scores: dict = {}
    for (doc, w), c in counts.items():
        if w in terms:
            part = (1 + math.log10(c)) * math.log10(1 + n / df[w])
            scores[doc] = scores.get(doc, 0.0) + part
    return scores


DOCS = {
    1: "Spark is fast, very fast! spark scales.",
    2: "hadoop is slower; spark wins",
    3: "nothing relevant here at all",
    4: "fast fast fast food",
    5: "",
    6: "SPARK\tspark   Spark",
}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(list(DOCS.items()), "doc_id long, text string")


def scores_of(df) -> dict:
    return {r.doc_id: r.score for r in df.collect()}


def assert_scores(got: dict, want: dict) -> None:
    assert got.keys() == want.keys()
    for doc, s in want.items():
        assert got[doc] == pytest.approx(s, rel=1e-12), doc


@pytest.mark.parametrize(
    "terms",
    [
        ["spark", "fast"],
        ["spark", "fast", "spark"],  # a repeated term counts once
        ["Spark", "fast"],  # tokens are lowercased, terms are not
        ["zebra", "spark"],  # a term absent from the corpus scores nothing
        ["zebra", "Spark"],  # no term matches: no rows
    ],
)
def test_search_ranked_matches_reference(docs, terms):
    got = scores_of(text.search_ranked(docs, terms))
    assert_scores(got, py_search(DOCS, terms))
    # the scores of the table-building composition, up to summation order
    old = text.ranked(text.search(text.tf_idf(docs), terms))
    assert_scores(got, scores_of(old))


def test_search_ranked_jar_tokenizer(docs):
    """The boundary tokenizer splits glued punctuation off the words."""
    pattern = text.TOKEN_BOUNDARY_RE
    got = scores_of(text.search_ranked(docs, ["fast", "!"], pattern=pattern))
    assert_scores(got, py_search(DOCS, ["fast", "!"], pattern=pattern))
    assert 1 in got


def test_search_ranked_empty_terms_give_empty_frame(docs):
    out = text.search_ranked(docs, [], k=10)
    assert out.columns == ["doc_id", "score"]
    assert out.collect() == []


def test_search_ranked_counts_empty_docs(docs):
    """Doc 5 has no tokens but is a document: N is 6, not 5."""
    got = scores_of(text.search_ranked(docs, ["spark"]))
    assert_scores(got, py_search(DOCS, ["spark"], total_docs=6))
    assert got[2] != pytest.approx(
        py_search(DOCS, ["spark"], total_docs=5)[2], rel=1e-12
    )


def test_search_ranked_k_cut_orders_ties_by_doc_id(spark):
    tied = {9: "spark", 4: "spark", 7: "spark", 2: "spark spark", 5: "other", 1: "spark"}
    docs = spark.createDataFrame(list(tied.items()), "doc_id long, text string")
    got = [(r.doc_id, r.score) for r in text.search_ranked(docs, ["spark"], k=3).collect()]
    want = py_search(tied, ["spark"])
    assert [d for d, _ in got] == [2, 1, 4]
    for d, s in got:
        assert s == pytest.approx(want[d], rel=1e-12)


def test_tfidf_search_rank_counts_empty_files(spark, tmp_path):
    """A zero-line input file yields no rows but the jar counts it in
    N (the input file count)."""
    from pagerank_mapreduce_implementation_spark.programs import tfidf_search_rank

    files = {"d1.txt": "spark is fast fast", "d2.txt": "hadoop, spark!", "e.txt": ""}
    inp = tmp_path / "docs"
    inp.mkdir()
    for name, body in files.items():
        (inp / name).write_text(body)
    got = scores_of(
        tfidf_search_rank(spark, str(inp), str(tmp_path / "out"), ["spark", "fast"])
    )
    want = py_search(files, ["spark", "fast"], pattern=text.TOKEN_BOUNDARY_RE)
    assert_scores(got, want)
