"""The per-source LSA token kernel against the Spark TF-IDF path, and the
size gate that chooses between it and the distributed SVD.

``lsa.lsa_concepts_from_tokens`` computes each source's TF-IDF and SVD in
one numpy batch from the LSA token stream; ``lsa.lsa_concepts_from(
lsa.tfidf_long_from(...))`` builds the same TF-IDF as Spark aggregates and
joins first.  Both end in the one SVD routine, so their rows must agree.
Budget 0 sends every source to the distributed SVD, an unlimited budget
keeps every source on the kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigdataanalytics_textsummarization_spark import (
    lsa,
    reviews,
    sizegate,
    strictmath,
    text,
)
from bigdataanalytics_textsummarization_spark.functions import release_pins
from bigdataanalytics_textsummarization_spark.io import read_reviews_tsv
from tests.conftest import SF_DIR
from tests.test_reviews_pipeline import reviews_dir  # noqa: F401 (fixture)

UNLIMITED = 2**62
TOKS_SCHEMA = "source string, sentence_id string, word string"
SENT_SCHEMA = "source string, sentence_id string"
KEY = ["source", "concept", "kind", "rk"]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _frame(df) -> pd.DataFrame:
    return df.toPandas().sort_values(KEY).reset_index(drop=True)


@pytest.fixture(params=["reviews", "synthetic"])
def corpus(request, spark):
    """(LSA token stream, LSA sentences) of the TSV review fixture and of
    the synthetic documents corpus."""
    release_pins()
    if request.param == "reviews":
        path = request.getfixturevalue("reviews_dir")
        sent = reviews.review_sentences(read_reviews_tsv(spark, path))
        toks = text.tokens_lsa_from(sent, lemma=reviews._lemma())
        lsa_sent = text.lsa_sentences_from(sent)
    else:
        toks = text.tokens_lsa(spark, SF_DIR)
        lsa_sent = text.lsa_sentences(spark, SF_DIR)
    yield toks, lsa_sent
    release_pins()


def test_kernel_matches_tfidf_path(spark, corpus):
    toks, lsa_sent = corpus
    tfidf = lsa.tfidf_long_from(toks, lsa_sent)
    kernel = _rows(lsa.lsa_concepts_from_tokens(toks, lsa_sent))
    assert kernel and kernel == _rows(lsa.lsa_concepts_from(tfidf))
    # the kernel's unrounded TF-IDF equals Spark's, bit for bit
    want = {(r[0], r[1], r[2]): r[3] for r in tfidf.collect()}
    got = {}
    for source, pdf in lsa._kernel_rows(toks, lsa_sent).toPandas().groupby("source"):
        sent_ids, words, m = lsa._tfidf_matrix(pdf)
        w_ix, s_ix = np.nonzero(m)
        got.update(
            {(source, sent_ids[s], words[w]): m[w, s] for w, s in zip(w_ix, s_ix)}
        )
    # Spark keeps the idf-0 cells as explicit zeros
    assert got == {k: v for k, v in want.items() if v != 0.0}


def test_strictmath_log10_matches_spark(spark):
    """Every TF-IDF ratio N/df with N, df <= 200, and wider arguments,
    take Spark's log10 bit for bit (np.log10 misses about one in seven)."""
    n = spark.range(1, 201).select(F.col("id").cast("double").alias("n"))
    ratios = n.crossJoin(n.select(F.col("n").alias("d"))).select(
        (F.col("n") / F.col("d")).alias("x")
    )
    wide = spark.createDataFrame(
        [(v,) for v in (5e-324, 1e-310, 2.2250738585072014e-308, 1e-5, 0.1,
                        1.0, 1.0000001, 10.0, 1e22, 1.7976931348623157e308)],
        "x double",
    )
    pdf = ratios.unionByName(wide).select("x", F.log10("x").alias("l")).toPandas()
    got = np.array([strictmath.log10(x) for x in pdf["x"]])
    assert (got.view("int64") == pdf["l"].to_numpy().view("int64")).all()


def _edge_inputs(spark, toks, sents):
    return (
        spark.createDataFrame(toks, TOKS_SCHEMA),
        spark.createDataFrame(sents, SENT_SCHEMA),
    )


def test_empty_stream(spark):
    toks, lsa_sent = _edge_inputs(spark, [], [])
    try:
        assert lsa.lsa_concepts_from_tokens(toks, lsa_sent).count() == 0
        for budget in (UNLIMITED, 0):
            out = lsa.lsa_concepts_auto_from(spark, toks, lsa_sent, budget)
            assert out.count() == 0
    finally:
        release_pins()


# p: N = 4 LSA sentences, s4 without a surviving token; "apple" is
# repeated in s1 (tf 2); q: "fig" is in every sentence (idf 0); r: one
# sentence; z: an LSA sentence but no token at all
EDGE_TOKS = [
    ("p", "s1", "apple"), ("p", "s1", "apple"), ("p", "s1", "pear"),
    ("p", "s2", "apple"), ("p", "s2", "plum"),
    ("p", "s3", "pear"), ("p", "s3", "kiwi"),
    ("q", "t1", "fig"), ("q", "t1", "date"),
    ("q", "t2", "fig"), ("q", "t2", "lime"),
    ("r", "u1", "oak"), ("r", "u1", "elm"),
]
EDGE_SENTS = [
    ("p", "s1"), ("p", "s2"), ("p", "s3"), ("p", "s4"),
    ("q", "t1"), ("q", "t2"),
    ("r", "u1"),
    ("z", "v1"),
]


def _matrix(source: str) -> dict:
    marks = [(src, sid, None) for src, sid in EDGE_SENTS]
    pdf = pd.DataFrame(
        [t for t in EDGE_TOKS + marks if t[0] == source],
        columns=["source", "sentence_id", "word"],
    )
    sent_ids, words, m = lsa._tfidf_matrix(pdf)
    return {
        (s, w): m[i, j] for i, w in enumerate(words) for j, s in enumerate(sent_ids)
    }


def test_edge_case_tfidf_cells():
    p = _matrix("p")
    # a sentence without tokens counts in N but has no column
    assert {s for s, _ in p} == {"s1", "s2", "s3"}
    assert p[("s1", "apple")] == 2 * np.log10(4 / 2)  # tf 2, df 2
    assert p[("s2", "apple")] == np.log10(4 / 2)
    assert p[("s3", "kiwi")] == np.log10(4 / 1)
    assert p[("s3", "apple")] == 0.0
    q = _matrix("q")
    assert q[("t1", "fig")] == q[("t2", "fig")] == 0.0  # idf 0
    assert q[("t1", "date")] == np.log10(2)
    r = _matrix("r")
    assert set(r) == {("u1", "elm"), ("u1", "oak")}


def test_edge_cases_match_tfidf_path(spark):
    toks, lsa_sent = _edge_inputs(spark, EDGE_TOKS, EDGE_SENTS)
    kernel = _rows(lsa.lsa_concepts_from_tokens(toks, lsa_sent))
    tfidf = lsa.tfidf_long_from(toks, lsa_sent)
    assert kernel == _rows(lsa.lsa_concepts_from(tfidf))
    assert {r[0] for r in kernel} == {"p", "q", "r"}
    items = {(r[0], r[2], r[4]) for r in kernel}
    assert ("p", "sentence", "s4") not in items
    # the idf-0 word keeps its matrix row: a keyword candidate of q
    assert {r[4] for r in kernel if r[0] == "q" and r[2] == "keyword"} == {
        "date", "fig", "lime"
    }
    # one sentence: one concept, one sentence row
    r_rows = [r for r in kernel if r[0] == "r"]
    assert {r[1] for r in r_rows} == {0}
    assert [r[4] for r in r_rows if r[2] == "sentence"] == ["u1"]


def _assert_same_concepts(a: pd.DataFrame, b: pd.DataFrame) -> None:
    assert a[KEY].equals(b[KEY])
    assert list(a["item"]) == list(b["item"])
    # the distributed SVD's singular vectors differ in the last digits
    np.testing.assert_allclose(
        a["weight"].to_numpy(), b["weight"].to_numpy(), atol=2e-6
    )


@pytest.fixture
def two_sources(spark):
    """LSA tokens and sentences of the synthetic corpus's smallest source
    and its smallest larger one (the review fixture's exact ties between
    sentences are broken differently by the distributed SVD), and their
    matrix cells."""
    release_pins()
    toks, lsa_sent = text.tokens_lsa(spark, SF_DIR), text.lsa_sentences(spark, SF_DIR)
    sizes = {
        r["cells"]: r["source"]
        for r in toks.groupBy("source")
        .agg(
            lsa._lsa_cells(
                F.countDistinct("sentence_id"), F.countDistinct("word")
            ).alias("cells")
        )
        .orderBy(F.desc("source"))
        .collect()
    }
    cells = sorted(sizes)[:2]
    toks = toks.filter(F.col("source").isin([sizes[c] for c in cells])).persist()
    yield toks, lsa_sent, cells
    toks.unpersist()
    release_pins()


def test_all_distributed_equals_all_kernel(spark, two_sources):
    toks, lsa_sent, _ = two_sources
    kernel = _frame(lsa.lsa_concepts_from_tokens(toks, lsa_sent))
    dist = _frame(lsa.lsa_concepts_auto_from(spark, toks, lsa_sent, 0))
    assert kernel["source"].nunique() == 2
    assert set(dist["kind"]) == {"sentence", "keyword"}
    _assert_same_concepts(kernel, dist)


def test_mixed_routing_equals_all_kernel(spark, two_sources, monkeypatch):
    toks, lsa_sent, (lo, hi) = two_sources
    cut = (lo + hi) // 2
    # the token frame and the TF-IDF frame probe to the same routing
    routing = sizegate._oversized_sources(toks, cut, lsa._lsa_cells)
    tfidf = lsa.tfidf_long_from(toks, lsa_sent)
    assert routing == sizegate._oversized_sources(tfidf, cut, lsa._lsa_cells)
    assert len(routing[0]) == 1 and routing[1] == 2
    kernel = _frame(lsa.lsa_concepts_from_tokens(toks, lsa_sent))
    kernel_sents: list = []
    entry = lsa.lsa_concepts_from_tokens
    monkeypatch.setattr(
        lsa,
        "lsa_concepts_from_tokens",
        lambda part, sent: (kernel_sents.append(sent), entry(part, sent))[1],
    )
    mixed = _frame(lsa.lsa_concepts_auto_from(spark, toks, lsa_sent, cut))
    _assert_same_concepts(kernel, mixed)
    # the oversized source's sentences stay out of the kernel's input
    (sent,) = kernel_sents
    assert sent.filter(F.col("source").isin(routing[0])).count() == 0
    assert sent.count() > 0


def test_review_directory_is_probed_once(spark, reviews_dir, monkeypatch):  # noqa: F811
    """The LSA review summary probes its token stream once per review
    directory, then reads the memo; nothing is pinned."""
    frames: list = []
    probe = sizegate._oversized_sources
    monkeypatch.setattr(
        sizegate,
        "_oversized_sources",
        lambda frame, *a: (frames.append(frame.columns), probe(frame, *a))[1],
    )
    for k in [k for k in sizegate._DISPATCH_CACHE if k[0] == reviews_dir]:
        del sizegate._DISPATCH_CACHE[k]
    try:
        for _ in range(2):
            reviews.lsa_review_summary(spark, reviews_dir).count()
            assert release_pins() == 0
    finally:
        release_pins()
    # one probe, on the token stream rather than a TF-IDF frame
    assert len(frames) == 1
    assert "word" in frames[0] and "tfidf" not in frames[0]
    routings = [
        v for k, v in sizegate._DISPATCH_CACHE.items()
        if k[0] == reviews_dir and k[1] == "lsa"
    ]
    assert routings == [([], 3)]
