"""The per-product TextRank kernel against the distributed join path, and
the size gate that chooses between them.

``pagerank.textrank_ranks_from`` ranks each product's sentences in one
numpy batch; ``pagerank.ranks_from(graph.edges_from(...))`` is the join
path that oversized products fall back to.  Budget 0 forces every product
onto the join path and an unlimited budget keeps every product on the
kernel, so both run on one input and must agree.
"""

from __future__ import annotations

import math
import os
import tracemalloc
from collections import Counter, defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigdataanalytics_textsummarization_spark import (
    graph,
    pagerank,
    reviews,
    sizegate,
    text,
)
from bigdataanalytics_textsummarization_spark.functions import (
    _CHECKPOINTS,
    release_pins,
)
from bigdataanalytics_textsummarization_spark.io import read_reviews_tsv
from tests.test_reviews_pipeline import reviews_dir  # noqa: F401 (fixture)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
UNLIMITED = 2**62
TOKS_SCHEMA = "source string, sentence_id string, word string"


def _ranks(df) -> dict:
    return {(r["source"], r["sentence_id"]): r["rank"] for r in df.collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _review_inputs(spark, path):
    sent = reviews.review_sentences(read_reviews_tsv(spark, path))
    return sent, text.tokens_textrank_from(sent, lemma=reviews._lemma())


@pytest.fixture(params=["reviews", "synthetic"])
def corpus(request, spark):
    """(sentences, token stream) of the TSV review fixture and of the
    synthetic documents corpus."""
    release_pins()
    if request.param == "reviews":
        sent, toks = _review_inputs(spark, request.getfixturevalue("reviews_dir"))
    else:
        sent = text.sentences(spark, SF_DIR)
        toks = text.tokens_textrank(spark, SF_DIR)
    yield sent, toks
    release_pins()


def _reference_ranks(rows) -> dict:
    """Reference TextRank in plain Python: graph.py's similarity, then
    5 steps of pagerank.py's weighted PageRank."""
    n = Counter((s, i) for s, i, _ in rows)
    words = defaultdict(set)
    for s, i, w in rows:
        words[(s, i)].add(w)
    out_w, edges = defaultdict(float), defaultdict(dict)
    for a in words:
        for b in words:
            isect = len(words[a] & words[b])
            if a[0] == b[0] and a != b and isect:
                w = isect / (1 + math.log2(n[a]) + math.log2(n[b]))
                edges[a][b] = w
                out_w[a] += w
    rank = {v: 0.15 for v in edges}
    for _ in range(5):
        nxt = defaultdict(float)
        for a, nbrs in edges.items():
            for b, w in nbrs.items():
                nxt[b] += rank[a] * w / out_w[a]
        rank = {v: 0.15 + 0.85 * c for v, c in nxt.items()}
    return rank


def test_kernel_matches_join_path(spark, corpus):
    sent, toks = corpus
    # the budget decides the path: the kernel is one Arrow group map and
    # checkpoints nothing; budget 0 builds the join path's leaf()
    kernel_df = pagerank.textrank_ranks_auto_from(toks, max_cells=UNLIMITED)
    assert "FlatMapGroupsInPandas" in _plan(kernel_df)
    assert not _CHECKPOINTS
    join_df = pagerank.textrank_ranks_auto_from(toks, max_cells=0)
    assert "FlatMapGroupsInPandas" not in _plan(join_df)
    assert _CHECKPOINTS
    kernel, join = _ranks(kernel_df), _ranks(join_df)
    assert kernel and kernel.keys() == join.keys()
    assert max(abs(kernel[k] - join[k]) for k in kernel) <= 1e-12

    def top5(ranks_df) -> set:
        top = pagerank.top_sentences_from(ranks_df, sent, k=5)
        return {(r["source"], r["sentence_id"]) for r in top.collect()}

    assert top5(kernel_df) == top5(join_df)


def test_mixed_routing_equals_all_kernel(spark, corpus):
    _, toks = corpus
    # the review fixture's products are the same size; a product made of
    # half of one product's sentences is smaller than every other
    first = toks.agg(F.min("source")).first()[0]
    half = (
        toks.filter((F.col("source") == first) & (F.crc32("sentence_id") % 2 == 0))
        .withColumn("source", F.lit("~half"))
    )
    toks = toks.unionByName(half.select(*toks.columns))
    cells = sorted(
        {
            r["cells"]
            for r in toks.groupBy("source")
            .agg(
                pagerank._textrank_cells(
                    F.countDistinct("sentence_id"), F.countDistinct("word")
                ).alias("cells")
            )
            .collect()
        }
    )
    assert len(cells) >= 2
    # a budget between the two smallest products' cells keeps the
    # smallest on the kernel and sends the rest to the join path
    cut = (cells[0] + cells[1]) // 2
    big, n_sources = sizegate._oversized_sources(toks, cut, pagerank._textrank_cells)
    assert 0 < len(big) < n_sources
    mixed_df = pagerank.textrank_ranks_auto_from(toks, max_cells=cut)
    plan = _plan(mixed_df)
    assert "FlatMapGroupsInPandas" in plan and "Union" in plan
    mixed = _ranks(mixed_df)
    kernel = _ranks(pagerank.textrank_ranks_auto_from(toks, max_cells=UNLIMITED))
    assert mixed.keys() == kernel.keys()
    assert max(abs(mixed[k] - kernel[k]) for k in kernel) <= 1e-12


@pytest.mark.parametrize(
    "rows",
    [
        pytest.param([], id="empty-stream"),
        pytest.param([("p", "s1", "apple"), ("p", "s1", "pear")], id="one-sentence"),
        pytest.param(
            [("p", "s1", "apple"), ("p", "s2", "pear"), ("p", "s3", "plum")],
            id="no-shared-word",
        ),
    ],
)
def test_edge_cases_emit_no_rows(spark, rows):
    toks = spark.createDataFrame(rows, TOKS_SCHEMA)
    try:
        for budget in (UNLIMITED, 0):
            out = pagerank.textrank_ranks_auto_from(toks, max_cells=budget)
            assert out.count() == 0
    finally:
        release_pins()


def test_duplicate_tokens_count_in_n(spark):
    rows = [
        ("p", "s1", "apple"), ("p", "s1", "apple"), ("p", "s1", "pear"),
        ("p", "s2", "apple"), ("p", "s2", "plum"),
        ("p", "s3", "pear"), ("p", "s3", "plum"), ("p", "s3", "plum"),
        ("p", "s4", "kiwi"),  # no shared word: no edge, no rank
        ("q", "t1", "fig"), ("q", "t2", "fig"), ("q", "t2", "fig"),
    ]
    toks = spark.createDataFrame(rows, TOKS_SCHEMA)
    want = _reference_ranks(rows)
    deduped = _reference_ranks(sorted(set(rows)))
    # duplicates change n, so they change the ranks
    assert max(abs(want[k] - deduped[k]) for k in want) > 1e-3
    try:
        for budget in (UNLIMITED, 0):
            got = _ranks(pagerank.textrank_ranks_auto_from(toks, max_cells=budget))
            assert got.keys() == want.keys()
            assert max(abs(got[k] - want[k]) for k in want) <= 1e-12
    finally:
        release_pins()


def test_gate_budget_is_n_squared_plus_n_v(spark):
    """Product p: n = 3 sentences, V = 3 words -> 9 + 9 = 18 cells."""
    rows = [
        ("p", "s1", "apple"), ("p", "s1", "pear"),
        ("p", "s2", "apple"), ("p", "s2", "plum"),
        ("p", "s3", "pear"), ("p", "s3", "plum"),
        ("q", "t1", "fig"), ("q", "t2", "fig"),  # n = 2, V = 1 -> 6 cells
    ]
    toks = spark.createDataFrame(rows, TOKS_SCHEMA)
    cells = pagerank._textrank_cells
    assert sizegate._oversized_sources(toks, 18, cells) == ([], 2)
    assert sizegate._oversized_sources(toks, 17, cells) == (["p"], 2)
    assert sizegate._oversized_sources(toks, 5, cells) == (["p", "q"], 2)


def test_review_entry_points_route_through_the_gate(spark, reviews_dir, monkeypatch):  # noqa: F811
    """Both review summarizers probe once per review directory and then
    read the memo; the signature covers every file of the directory."""
    probes: list[int] = []
    probe = sizegate._oversized_sources
    monkeypatch.setattr(
        sizegate,
        "_oversized_sources",
        lambda *a: (probes.append(1), probe(*a))[1],
    )
    sig = sizegate._dataset_signature(reviews_dir)
    assert len(sig) == 3  # one entry per product file
    for k in [k for k in sizegate._DISPATCH_CACHE if k[0] == reviews_dir]:
        del sizegate._DISPATCH_CACHE[k]
    try:
        for _ in range(2):
            reviews.lsa_review_summary(spark, reviews_dir).count()
            reviews.textrank_review_summary(spark, reviews_dir).count()
            release_pins()
    finally:
        release_pins()
    assert len(probes) == 2  # one LSA probe, one TextRank probe
    kernels = sorted(k[1] for k in sizegate._DISPATCH_CACHE if k[0] == reviews_dir)
    assert kernels == ["lsa", "textrank"]
    # nothing is oversized at fixture scale: every product takes the kernels
    routings = [v for k, v in sizegate._DISPATCH_CACHE.items() if k[0] == reviews_dir]
    assert routings == [([], 3), ([], 3)]


def test_signature_tracks_files_and_globs(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("x")
    sig = sizegate._dataset_signature(str(d))
    assert sizegate._dataset_signature(str(d / "a.txt")) == sig
    assert sizegate._dataset_signature(str(d / "*.txt")) == sig
    (d / "b.txt").write_text("yy")
    assert len(sizegate._dataset_signature(str(d))) == 2
    assert sizegate._dataset_signature(str(tmp_path / "missing")) == ()


def test_signature_takes_an_existing_path_literally(tmp_path):
    """A directory named like a glob pattern is read as written: the
    pattern run[1] would match run1, whose rewrites must not stand in for
    the real input's."""
    real, lookalike = tmp_path / "run[1]", tmp_path / "run1"
    for d in (real, lookalike):
        d.mkdir()
        (d / "reviews.txt").write_text("x")
    sig = sizegate._dataset_signature(str(real))
    assert [p for p, *_ in sig] == [str(real / "reviews.txt")]
    (real / "reviews.txt").write_text("grown")
    assert sizegate._dataset_signature(str(real)) != sig
    # a path that does not exist is still expanded as a glob
    assert sizegate._dataset_signature(str(tmp_path / "run[1]x")) == ()
    assert [p for p, *_ in sizegate._dataset_signature(str(tmp_path / "run?"))] == [
        str(lookalike / "reviews.txt")
    ]


def test_kernel_peak_stays_within_the_budgeted_cells():
    """The kernel's numpy peak is the n² + n·V cells the gate budgets:
    edgeless sentences are kept in place and every step after X·Xᵀ
    rewrites the weights in place (no n x n copy or temporary)."""
    rows = [
        ("p", f"s{i:04d}", f"w{k}")
        for i in range(600)
        for k in {i % 200, (i * 7 + 3) % 200, (i * 13 + 5) % 200}
    ] + [("p", f"z{j}", f"lone{j}") for j in range(10)]  # no shared word
    pdf = pd.DataFrame(rows, columns=["source", "sentence_id", "word"])
    n, v = pdf["sentence_id"].nunique(), pdf["word"].nunique()
    tracemalloc.start()
    try:
        out = pagerank._rank_product(pdf, pagerank.N_ITERATIONS)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(out) == 600 and not out["sentence_id"].str.startswith("z").any()
    assert peak <= 1.05 * 8 * (n * n + n * v)


def test_ranks_raw_takes_the_kernel(spark):
    """The registered textrank queries rank through the kernel."""
    release_pins()
    try:
        plan = _plan(pagerank.textrank_ranks(spark, SF_DIR))
        assert "FlatMapGroupsInPandas" in plan
        assert not _CHECKPOINTS
        edges = graph.similarity_edges(spark, SF_DIR)  # still the join path
        assert edges.filter(F.col("weight") <= 0).count() == 0
    finally:
        release_pins()
