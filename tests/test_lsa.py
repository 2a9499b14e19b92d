"""Algebraic property tests for the LSA summarizer (SURVEY.md §5: SVD is not
SQL-expressible, so correctness is established by invariants instead)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bigdataanalytics_textsummarization_spark import lsa
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def concepts(spark):
    return lsa.lsa_concepts(spark, SF_DIR).toPandas()


def test_shape_contract(concepts):
    # every (source, concept, kind) group has exactly rk = 1..n rows
    for (_, _, _), grp in concepts.groupby(["source", "concept", "kind"]):
        assert sorted(grp["rk"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= lsa.N_PER_CONCEPT
    assert set(concepts["kind"]) == {"sentence", "keyword"}
    assert concepts["concept"].max() < lsa.K_CONCEPTS


def test_topn_weights_descending(concepts):
    for (_, _, _), grp in concepts.groupby(["source", "concept", "kind"]):
        w = grp.sort_values("rk")["weight"].to_numpy()
        assert (np.diff(w) <= 1e-12).all(), "weights must be non-increasing in rk"


def test_deterministic_across_runs(spark):
    a = lsa.lsa_concepts(spark, SF_DIR).toPandas()
    b = lsa.lsa_concepts(spark, SF_DIR).toPandas()
    key = ["source", "concept", "kind", "rk"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_svd_reconstruction_property():
    # the in-worker extraction is driven by numpy SVD; verify the helper's
    # sign-fix preserves the factorization on a known matrix
    rng = np.random.RandomState(7)
    m = rng.rand(20, 12)
    u, s, vt = np.linalg.svd(m, full_matrices=False)
    assert np.allclose(u @ np.diag(s) @ vt, m, atol=1e-10)
    # sign flip of a (u column, vt row) pair leaves the product unchanged
    u2, vt2 = u.copy(), vt.copy()
    u2[:, 0] *= -1
    vt2[0, :] *= -1
    assert np.allclose(u2 @ np.diag(s) @ vt2, m, atol=1e-10)


def test_distributed_svd_matches_numpy(spark):
    """The MLlib RowMatrix path must select the same top sentences (up to
    float tolerance) as a driver-side numpy SVD of the same matrix."""
    import numpy as np

    from bigdataanalytics_textsummarization_spark.lsa import (
        N_PER_CONCEPT,
        lsa_concepts_distributed,
    )
    from bigdataanalytics_textsummarization_spark.text import (
        lsa_sentences,
        tokens_lsa,
    )
    from pyspark.sql import functions as F

    got = lsa_concepts_distributed(spark, SF_DIR).toPandas()

    toks = tokens_lsa(spark, SF_DIR)
    n_sent = (
        lsa_sentences(spark, SF_DIR).select("sentence_id").distinct().count()
    )
    tf = (
        toks.groupBy("sentence_id", "word").agg(F.count("*").alias("tf"))
    ).toPandas()
    df = tf.groupby("word")["sentence_id"].nunique()
    tf["tfidf"] = tf["tf"] * np.log10(n_sent / tf["word"].map(df))
    piv = tf.pivot_table(
        index="word", columns="sentence_id", values="tfidf", fill_value=0.0
    )
    u, s, vt = np.linalg.svd(piv.to_numpy(), full_matrices=False)
    sent_ids = list(piv.columns)
    for c in sorted(got["concept"].unique()):
        vec = vt[c, :].copy()
        if vec[np.argmax(np.abs(vec))] < 0:
            vec = -vec
        order = sorted(
            range(len(vec)), key=lambda i: (-float(vec[i]), sent_ids[i])
        )[:N_PER_CONCEPT]
        want_items = [sent_ids[i] for i in order]
        grp = got[got["concept"] == c].sort_values("rk")
        assert list(grp["item"]) == want_items, f"concept {c}"
        np.testing.assert_allclose(
            grp["weight"].to_numpy(),
            [round(float(vec[i]), 6) for i in order],
            atol=2e-6,
        )


def test_summary_joins_back_to_real_sentences(spark):
    out = lsa.lsa_summary(spark, SF_DIR).toPandas()
    assert (out["sentence_id"] == out["sentence_id"]).all()
    assert len(out) > 0
    # every summary row carries the sentence text for its sentence_id
    from bigdataanalytics_textsummarization_spark.text import sentences

    sent = sentences(spark, SF_DIR).toPandas().set_index("sentence_id")["sentence"]
    for _, r in out.head(20).iterrows():
        assert sent.loc[r["sentence_id"]] == r["sentence"]


def test_size_dispatch_routes_big_sources_distributed(spark):
    """lsa_concepts_auto with a tiny threshold must route a source through
    the distributed SVD and produce the SAME concepts (both kinds) as the
    applyInPandas path for that source — the anti-OOM dispatch contract."""
    from pyspark.sql import functions as F

    from bigdataanalytics_textsummarization_spark.lsa import (
        lsa_concepts_auto_from,
        lsa_concepts_from_tokens,
    )
    from bigdataanalytics_textsummarization_spark.text import (
        lsa_sentences,
        tokens_lsa,
    )

    toks, lsa_sent = tokens_lsa(spark, SF_DIR), lsa_sentences(spark, SF_DIR)
    srcs = sorted(
        r["source"]
        for r in toks.select("source").distinct().limit(2).collect()
    )
    sub = toks.filter(F.col("source").isin(srcs)).persist()

    local = lsa_concepts_from_tokens(sub, lsa_sent).toPandas()
    # max_cells=1: every source is "too big" -> all-distributed route
    dispatched = lsa_concepts_auto_from(
        spark, sub, lsa_sent, max_cells=1
    ).toPandas()

    assert set(dispatched["source"]) == set(srcs)
    assert set(dispatched["kind"]) == {"sentence", "keyword"}
    key = ["source", "concept", "kind", "rk"]
    a = local.sort_values(key).reset_index(drop=True)
    b = dispatched.sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key])
    assert list(a["item"]) == list(b["item"])
    np.testing.assert_allclose(
        a["weight"].to_numpy(), b["weight"].to_numpy(), atol=2e-6
    )


def test_size_dispatch_mixed_split(spark):
    """A threshold between two sources' sizes sends exactly one of them
    distributed; the union still covers both with full shape."""
    from pyspark.sql import functions as F

    from bigdataanalytics_textsummarization_spark.lsa import (
        lsa_concepts_auto_from,
        lsa_concepts_from_tokens,
    )
    from bigdataanalytics_textsummarization_spark.text import (
        lsa_sentences,
        tokens_lsa,
    )

    toks, lsa_sent = tokens_lsa(spark, SF_DIR), lsa_sentences(spark, SF_DIR)
    sizes = (
        toks.groupBy("source")
        .agg(
            (
                F.countDistinct("sentence_id") * F.countDistinct("word")
            ).alias("cells")
        )
        .orderBy("cells")
        .collect()
    )
    lo, hi = sizes[0], sizes[-1]
    assert lo["cells"] < hi["cells"], "need two differently-sized sources"
    sub = toks.filter(
        F.col("source").isin([lo["source"], hi["source"]])
    ).persist()
    cut = (lo["cells"] + hi["cells"]) // 2
    mixed = lsa_concepts_auto_from(
        spark, sub, lsa_sent, max_cells=cut
    ).toPandas()
    local = lsa_concepts_from_tokens(sub, lsa_sent).toPandas()
    key = ["source", "concept", "kind", "rk"]
    a = local.sort_values(key).reset_index(drop=True)
    b = mixed.sort_values(key).reset_index(drop=True)
    assert list(a["item"]) == list(b["item"])
    np.testing.assert_allclose(
        a["weight"].to_numpy(), b["weight"].to_numpy(), atol=2e-6
    )
