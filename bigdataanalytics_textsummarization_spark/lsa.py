"""LSA extractive summarization (SURVEY.md §2.12 M1-M3, F12).

Reference semantics (BigdataProjectCode.py:89-157): TF-IDF term x sentence
matrix per corpus, SVD, and for each of the first k=5 concepts take the
n=3 highest-weight sentences (from VT) and the n=3 highest-weight keywords
(reference runs a SECOND SVD on the transpose, code:138/141 — redundant,
since U of M gives exactly V of M^T; we factor once).

Scale architecture: the reference materializes the dense matrix on the
driver (code:130-137) — its scalability cliff.  Here each *corpus*
(source) is an independent small problem, so the engine distributes across
corpora with ``applyInPandas``: one Arrow batch per source, numpy SVD
inside the worker, relational rows out.  A source whose (vocab x
sentences) matrix would not fit one worker is SIZE-DISPATCHED
(``lsa_concepts_auto_from``, through the gate in ``sizegate.py`` that
TextRank shares) to MLlib's distributed ``computeSVD`` instead, so
one grown corpus cannot reintroduce the reference's cliff; the per-corpus
grouped path stays the plan for the common many-products-x-small-matrices
workload.

Determinism: singular vectors are sign-fixed (largest-|component| entry
made positive) and ties in top-n selection break by id, so results are
stable across platforms/BLAS builds.  SVD itself is not SQL-expressible →
rows-only oracle + algebraic property tests (tests/test_lsa.py).
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import sizegate
from .functions import pin, r6
from .sizegate import MAX_LOCAL_CELLS
from .text import lsa_sentences, sentences, tokens_lsa

K_CONCEPTS = 5
N_PER_CONCEPT = 3

_LSA_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("concept", T.LongType()),
        T.StructField("kind", T.StringType()),  # 'sentence' | 'keyword'
        T.StructField("rk", T.LongType()),
        T.StructField("item", T.StringType()),  # sentence_id or word
        T.StructField("weight", T.DoubleType()),
    ]
)


def tfidf_long_from(toks: DataFrame, lsa_sent: DataFrame) -> DataFrame:
    """Unrounded TF-IDF in long form from any token/sentence frames."""
    n_per_source = lsa_sent.groupBy("source").agg(
        # sentence_id is unique by construction (doc_id x pos), so the
        # corpus size is a plain count — no Expand/distinct aggregation
        F.count("*").cast("double").alias("n_sentences")
    )
    # df re-aggregates tf, but the optimizer prunes tf's count from the
    # df branch, so its exchange differs from tf's and is not reused: the
    # executed plan runs two scan + tokenize pipelines, one per branch
    tf = toks.groupBy("source", "sentence_id", "word").agg(
        F.count("*").alias("tf")
    )
    df = tf.groupBy("source", "word").agg(F.count("*").alias("df"))
    return (
        tf.join(df, ["source", "word"])
        .join(F.broadcast(n_per_source), "source")
        .select(
            "source",
            "sentence_id",
            "word",
            (F.col("tf") * F.log10(F.col("n_sentences") / F.col("df"))).alias(
                "tfidf"
            ),
        )
    )


def _extract_concepts(pdf: pd.DataFrame) -> pd.DataFrame:
    """One corpus -> (concept, kind, rk, item, weight) rows via one SVD."""
    source = pdf["source"].iloc[0]
    sent_ids = sorted(pdf["sentence_id"].unique())
    words = sorted(pdf["word"].unique())
    sid_ix = {s: i for i, s in enumerate(sent_ids)}
    w_ix = {w: i for i, w in enumerate(words)}
    # rows = words, cols = sentences (reference layout, code:134-137)
    m = np.zeros((len(words), len(sent_ids)))
    m[
        pdf["word"].map(w_ix).to_numpy(),
        pdf["sentence_id"].map(sid_ix).to_numpy(),
    ] = pdf["tfidf"].to_numpy()
    u, s, vt = np.linalg.svd(m, full_matrices=False)
    k = min(K_CONCEPTS, len(s))
    rows: list[tuple] = []
    for c in range(k):
        sent_vec = vt[c, :].copy()
        word_vec = u[:, c].copy()
        # sign convention: largest-|component| of the sentence vector positive
        if sent_vec[np.argmax(np.abs(sent_vec))] < 0:
            sent_vec, word_vec = -sent_vec, -word_vec
        for kind, vec, ids in (
            ("sentence", sent_vec, sent_ids),
            ("keyword", word_vec, words),
        ):
            # top-n by weight desc, id asc (deterministic under ties)
            order = sorted(
                range(len(vec)), key=lambda i: (-float(vec[i]), ids[i])
            )[: min(N_PER_CONCEPT, len(vec))]
            for rk, i in enumerate(order, start=1):
                rows.append(
                    # + 0.0 = float-parity convention #4 (-0.0 -> +0.0),
                    # matching r6()'s Spark-side guard
                    (source, c, kind, rk, ids[i], round(float(vec[i]), 6) + 0.0)
                )
    return pd.DataFrame(
        rows, columns=["source", "concept", "kind", "rk", "item", "weight"]
    )


def _tfidf_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_long_from(
        tokens_lsa(spark, sf_dir), lsa_sentences(spark, sf_dir)
    )


def lsa_concepts_from(tfidf: DataFrame) -> DataFrame:
    """Per-source LSA concept extraction from any long-form TF-IDF frame."""
    return tfidf.groupBy("source").applyInPandas(
        _extract_concepts, schema=_LSA_SCHEMA
    )


def lsa_concepts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source LSA concept extraction (sentences + keywords, M1+M2).

    Size-dispatched (:func:`lsa_concepts_auto`): sources whose matrix
    exceeds ``MAX_LOCAL_CELLS`` take the distributed SVD instead of the
    per-source applyInPandas — at gate scale every source is small, so the
    golden row exercises the dispatcher's common path.
    """
    return lsa_concepts_auto(spark, sf_dir)


def _lsa_cells(n_sent: Column, n_words: Column) -> Column:
    """Dense (vocab x sentences) matrix size of one corpus."""
    return n_sent * n_words


def lsa_concepts_auto_from(
    spark: SparkSession,
    tfidf: DataFrame,
    max_cells: int = MAX_LOCAL_CELLS,
    path: str | None = None,
) -> DataFrame:
    """Size-dispatched LSA over any long-form TF-IDF frame: applyInPandas
    for sources whose (vocab x sentences) matrix fits a worker, the
    distributed MLlib SVD for any source above ``max_cells``
    (:mod:`.sizegate`).  ``path`` names the input the frame was read from,
    so the routing is memoized per dataset; without it every call probes
    (test seam: a filtered frame + tiny ``max_cells`` forces the
    distributed route without 20 full SVDs).  The TF-IDF persist is
    pin()-owned (release_pins()): the probe and both paths read it."""

    def distributed(part: DataFrame, big: list[str]) -> DataFrame:
        return functools.reduce(
            DataFrame.unionByName,
            [
                _distributed_concepts(
                    spark,
                    part.filter(F.col("source") == src),
                    k=K_CONCEPTS,
                    source=src,
                    kinds=("sentence", "keyword"),
                )
                for src in big
            ],
        )

    return sizegate.dispatch(
        pin(tfidf),
        "lsa",
        _lsa_cells,
        lsa_concepts_from,
        distributed,
        max_cells,
        path=path,
    )


def _distributed_concepts(
    spark: SparkSession,
    tfidf: DataFrame,
    k: int = K_CONCEPTS,
    source: str | None = None,
    kinds: tuple[str, ...] = ("sentence",),
    n_parts_hint: int | None = None,
) -> DataFrame:
    """Distributed-SVD concept extraction over ONE corpus's long-form
    (sentence_id, word, tfidf) frame — the shape ``applyInPandas`` can't
    hold: sentence x term TF-IDF as an MLlib IndexedRowMatrix, factored
    with ``computeSVD(computeU=True)``.

    Orientation is what makes this scale: rows = SENTENCES (unbounded,
    stays a distributed factor U), cols = vocabulary (bounded, the only
    local factor V).  Nothing O(corpus) ever lands on the driver — sentence
    and word coordinates come from distributed ``zipWithIndex``, the
    per-concept sign fix and top-n selection are window queries over the
    distributed U rows.  (The transposed layout would hand back V =
    #sentences x k as a LOCAL matrix — the reference's driver cliff in
    disguise.)  Keyword rows, when requested, come from the LOCAL factor V
    (vocabulary x k — bounded by design) with the SAME per-concept signs
    as the sentence rows, matching the numpy path's joint flip.

    ``source`` tags every output row (dispatch mode); ``None`` keeps the
    whole-corpus (concept, kind, rk, item, weight) shape.
    """
    from pyspark.mllib.linalg import Vectors
    from pyspark.mllib.linalg.distributed import IndexedRow, IndexedRowMatrix
    from pyspark.sql.window import Window

    # consumed by several jobs below (sentence index, word index, matrix
    # entries) — cache so upstream tokenization+joins run once, not thrice
    tfidf = pin(tfidf.select("sentence_id", "word", "tfidf"))
    # dense integer coordinates, built distributedly (sorted for stability)
    sent_ix = (
        tfidf.select("sentence_id")
        .distinct()
        .orderBy("sentence_id")
        .rdd.map(lambda r: r[0])
        .zipWithIndex()
        .toDF(["sentence_id", "sidx"])
    )
    word_ix = (
        tfidf.select("word")
        .distinct()
        .orderBy("word")
        .rdd.map(lambda r: r[0])
        .zipWithIndex()
        .toDF(["word", "widx"])
    )
    n_words = word_ix.count()
    entries = (
        tfidf.join(sent_ix, "sentence_id")
        .join(F.broadcast(word_ix), "word")
        .select("sidx", "widx", "tfidf")
    )
    # Partition count sized to the matrix: every Lanczos multiply inside
    # computeSVD is one job over this RDD, so at gate scale (thousands of
    # sentences) the fixed per-task overhead of many near-empty partitions
    # dominates the actual math.  ~20k rows per partition amortizes task
    # launch; on a real corpus the count grows with the data and the same
    # expression yields hundreds of partitions.
    n_rows = sent_ix.count()
    n_parts = n_parts_hint or max(1, n_rows // 20_000 + 1)
    rows = (
        entries.rdd.map(lambda r: (r["sidx"], (r["widx"], r["tfidf"])))
        .groupByKey(numPartitions=n_parts)
        .map(
            lambda kv: IndexedRow(
                kv[0], Vectors.sparse(n_words, sorted(kv[1]))
            )
        )
    )
    # ARPACK re-traverses the row RDD on every Lanczos multiply; without
    # this cache each SVD iteration replays tokenize->join->groupByKey.
    # pin() registers it for release_pins() (RDDs persist/unpersist too).
    rows = pin(rows)
    k_eff = min(k, n_rows, n_words)
    svd = IndexedRowMatrix(rows).computeSVD(k_eff, computeU=True)
    # U rows (distributed): sentence weights per concept
    u_long = (
        svd.U.rows.map(
            lambda r: (int(r.index), [float(x) for x in r.vector])
        )
        .toDF(["sidx", "w"])
        .select(
            "sidx", F.posexplode("w").alias("concept", "weight")
        )
    )
    # per-concept sign fix: weight at the largest |weight| (first index on
    # ties, matching np.argmax) must be positive
    w_sign = Window.partitionBy("concept").orderBy(
        F.desc(F.abs(F.col("weight"))), F.asc("sidx")
    )
    signs = (
        u_long.withColumn("rn", F.row_number().over(w_sign))
        .filter(F.col("rn") == 1)
        .select(
            "concept",
            F.when(F.col("weight") < 0, -1.0).otherwise(1.0).alias("sgn"),
        )
    )
    signed = u_long.join(F.broadcast(signs), "concept").select(
        "sidx", "concept", (F.col("weight") * F.col("sgn")).alias("weight")
    )
    w_top = Window.partitionBy("concept").orderBy(
        F.desc("weight"), F.asc("sentence_id")
    )
    out = (
        signed.join(sent_ix, "sidx")
        .withColumn("rk", F.row_number().over(w_top).cast("long"))
        .filter(F.col("rk") <= N_PER_CONCEPT)
        .select(
            F.col("concept").cast("long").alias("concept"),
            F.lit("sentence").alias("kind"),
            "rk",
            F.col("sentence_id").alias("item"),
            r6(F.col("weight")).alias("weight"),
        )
    )
    if "keyword" in kinds:
        # V is LOCAL by MLlib design (vocabulary x k — the bounded factor);
        # re-distribute it as a tiny frame, apply the SAME signs as the
        # sentence rows (joint flip, matching _extract_concepts), top-n by
        # (weight desc, word asc).
        v = svd.V.toArray()  # n_words x k_eff
        vpdf = pd.DataFrame(
            {
                "widx": np.repeat(
                    np.arange(v.shape[0], dtype="int64"), k_eff
                ),
                "concept": np.tile(
                    np.arange(k_eff, dtype="int64"), v.shape[0]
                ),
                "weight": v.reshape(-1),
            }
        )
        w_kw = Window.partitionBy("concept").orderBy(
            F.desc("weight"), F.asc("word")
        )
        kw = (
            spark.createDataFrame(vpdf)
            .join(F.broadcast(signs), "concept")
            .join(F.broadcast(word_ix), "widx")
            .select(
                "concept",
                "word",
                (F.col("weight") * F.col("sgn")).alias("weight"),
            )
            .withColumn("rk", F.row_number().over(w_kw).cast("long"))
            .filter(F.col("rk") <= N_PER_CONCEPT)
            .select(
                F.col("concept").cast("long").alias("concept"),
                F.lit("keyword").alias("kind"),
                "rk",
                F.col("word").alias("item"),
                r6(F.col("weight")).alias("weight"),
            )
        )
        out = out.unionByName(kw)
    if source is not None:
        out = out.select(F.lit(source).alias("source"), "*")
    return out


def lsa_concepts_distributed(
    spark: SparkSession, sf_dir: str, k: int = K_CONCEPTS
) -> DataFrame:
    """Distributed SVD path over the whole documents table as ONE corpus.

    Thin wrapper over :func:`_distributed_concepts` (which the size
    dispatcher :func:`lsa_concepts_auto` reuses per oversized source);
    output (concept, kind, rk, item, weight), sentence rows only —
    identical semantics to the numpy path (sign: largest-|weight| sentence
    positive; ties by sentence_id).  Golden-parquet value gate; numpy
    cross-check in tests/test_lsa.py.
    """
    toks = tokens_lsa(spark, sf_dir)
    sent = lsa_sentences(spark, sf_dir)
    n_sent = sent.count()  # sentence_id unique by construction
    tf = toks.groupBy("sentence_id", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    tfidf = tf.join(df, "word").select(
        "sentence_id",
        "word",
        (F.col("tf") * F.log10(F.lit(float(n_sent)) / F.col("df"))).alias(
            "tfidf"
        ),
    )
    return _distributed_concepts(
        spark, tfidf, k=k, n_parts_hint=max(1, n_sent // 20_000 + 1)
    )


def lsa_concepts_auto(
    spark: SparkSession,
    sf_dir: str,
    max_cells: int = MAX_LOCAL_CELLS,
) -> DataFrame:
    """Size-dispatched per-source LSA over the documents table
    (:func:`lsa_concepts_auto_from`).  The size probe is one aggregate
    over the tfidf frame (one row per source — bounded driver
    materialization, like the corpus counts the reference's loop takes
    per product), run once per dataset: repeated calls skip it (~1 s per
    call at sf0.1) while a rewritten documents table re-probes."""
    return lsa_concepts_auto_from(
        spark,
        _tfidf_long(spark, sf_dir),
        max_cells,
        path=f"{sf_dir}/documents.parquet",
    )


def lsa_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: the 5x3 summary sentences joined back to their text — one
    equi-join instead of the reference's 15 per-sentence lookup() jobs
    (code:110)."""
    concepts = lsa_concepts(spark, sf_dir).filter(F.col("kind") == "sentence")
    sent = sentences(spark, sf_dir).select("sentence_id", "sentence")
    return concepts.join(
        sent, concepts.item == sent.sentence_id
    ).select("source", "concept", "rk", "sentence_id", "weight", "sentence")


# SVD is not SQL-expressible, but the output IS deterministic (sign-fixed
# vectors, id-broken ties, round-6 weights — verified identical across
# sessions), so the value gate reads a committed golden snapshot taken at
# the driver's gate scale.  Regenerate with scripts/make_golden.py only on
# an intentional semantic change; the parquet diff is the review surface.
# (The golden is pinned to sf0.01 — exactly the scale the driver compares
# at; algebraic property tests in tests/test_lsa.py cover other scales.)
_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "golden",
    "sf0.01",
)

ORACLES: dict[str, str] = {
    name: f"SELECT * FROM '{os.path.join(_GOLDEN_DIR, name + '.parquet')}'"
    for name in ("lsa_concepts", "lsa_summary", "lsa_concepts_distributed")
}

QUERIES = {
    "lsa_concepts": lsa_concepts,
    "lsa_summary": lsa_summary,
    "lsa_concepts_distributed": lsa_concepts_distributed,
}
