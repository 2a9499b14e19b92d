"""Sentence-similarity graph construction (SURVEY.md §2.3 J2, §2.6 T1, F9).

The reference builds the graph with a hand-rolled broadcast nested-loop
join: it ``collect()``s every vertex to the driver, ships the list inside a
closure, and computes similarity for all O(n²) pairs per file
(BigdataProjectCode.py:332-333, 339-347, 350-357).

Here the all-pairs similarity is reformulated as a *token equi-join*:
explode each sentence's distinct tokens, self-join on (source, word), and
count matches per sentence pair — only pairs that actually share a word are
ever materialized, the driver holds nothing, and the shuffle key
(source, word) scales horizontally.  Skewed hot words are handled by AQE
skew-join splitting; at extreme scale the candidate generation switches to
MinHash LSH (extensions/dedup.py) with identical downstream semantics.

Similarity (BigdataProjectCode.py:339-347):
    weight(v1, v2) = |distinct(tokens1) ∩ tokens2|
                     / (1 + log2(len(tokens1)) + log2(len(tokens2)))
where len() counts the full token list including duplicates, and
zero-weight / self pairs are dropped (P9).

Who builds edges here: the ``similarity_edges`` and ``graph_*`` queries,
``pagerank.ranks_from``'s callers with their own edge table and the
TextRank products too large for the per-product kernel
(``pagerank.textrank_ranks_auto_from`` routes them here through the size
gate).  ``textrank_ranks``, ``textrank_top5`` and
``reviews.textrank_review_summary`` otherwise rank through
``pagerank.textrank_ranks_from``, which computes the same weights inside
one numpy batch per product and never materializes this table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import _owned_ckpt, _retire_ckpt, leaf, r6, session_memo
from .text import (
    SENTENCES_CTE,
    TOKENS_TR_CTE,
    TR_SENT_CTE,
    tokens_textrank,
)

EDGES_CTE = f"""
ntok AS (
  SELECT source, sentence_id, count(*) AS n
  FROM trtok GROUP BY source, sentence_id
),
dist AS (SELECT DISTINCT source, sentence_id, word FROM trtok),
pairs AS (
  SELECT a.source AS source, a.sentence_id AS src, b.sentence_id AS dst,
         count(*) AS isect
  FROM dist a
  JOIN dist b ON a.source = b.source AND a.word = b.word
             AND a.sentence_id <> b.sentence_id
  GROUP BY a.source, a.sentence_id, b.sentence_id
),
edges AS (
  SELECT p.source, p.src, p.dst, p.isect,
         p.isect / (1 + log2(ns.n) + log2(nd.n)) AS weight
  FROM pairs p
  JOIN ntok ns ON p.source = ns.source AND p.src = ns.sentence_id
  JOIN ntok nd ON p.source = nd.source AND p.dst = nd.sentence_id
)
"""

EDGES_PREAMBLE = (
    f"WITH {SENTENCES_CTE}, {TR_SENT_CTE}, {TOKENS_TR_CTE}, {EDGES_CTE}"
)


def edges_from(toks: DataFrame) -> DataFrame:
    """Unrounded edge table (source, src, dst, isect, weight) from any
    (source, sentence_id, word) token stream."""
    ntok = toks.groupBy("source", "sentence_id").agg(F.count("*").alias("n"))
    dist = toks.select("source", "sentence_id", "word").distinct()
    a, b = dist.alias("a"), dist.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.word") == F.col("b.word"))
            & (F.col("a.sentence_id") != F.col("b.sentence_id")),
        )
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.sentence_id").alias("src"),
            F.col("b.sentence_id").alias("dst"),
        )
        .agg(F.count("*").cast("long").alias("isect"))
    )
    ns = ntok.select(
        F.col("source").alias("source"),
        F.col("sentence_id").alias("src"),
        F.col("n").alias("n_src"),
    )
    nd = ntok.select(
        F.col("source").alias("source"),
        F.col("sentence_id").alias("dst"),
        F.col("n").alias("n_dst"),
    )
    return (
        pairs.join(ns, ["source", "src"])
        .join(nd, ["source", "dst"])
        .withColumn(
            "weight",
            F.col("isect")
            / (F.lit(1) + F.log2("n_src") + F.log2("n_dst")),
        )
        .select("source", "src", "dst", "isect", "weight")
    )


@session_memo
def edges_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge table over the synthetic documents corpus.

    The token stream is collapsed to a LogicalRDD leaf first: edges_from
    composes ~10 ops over it (dist twice via the self-join, ntok twice via
    the n_src/n_dst joins), so without the leaf each op's eager analysis
    re-walks the whole tokenize tree — plan construction dominated the
    similarity/textrank family's wall time (VERDICT r7 task 5)."""
    return edges_from(leaf(tokens_textrank(spark, sf_dir)))


def similarity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public edge-table query (weights rounded per the parity contract)."""
    return edges_raw(spark, sf_dir).select(
        "source", "src", "dst", "isect", r6(F.col("weight")).alias("weight")
    )


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-corpus triangle census of the similarity graph: vertex/edge
    counts, triangle count, and global transitivity (3·triangles /
    wedges) — the third graph-analytics primitive next to PageRank
    (pagerank.py) and connected components (dedup_clusters).

    The symmetric edge table is canonicalized (src < dst) so each
    undirected edge appears once; triangles enumerate as the standard
    two-join a<b<c path-closure, whose cost is sum-over-edges of degree
    (skewed hubs split by AQE) — never a cube of the vertex count.
    Transitivity is an unrounded division of exact integers (identical
    IEEE doubles on both engines), 0.0 for wedge-free corpora.
    """
    e = (
        edges_raw(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .select("source", "src", "dst")
    )
    deg = (
        edges_raw(spark, sf_dir)
        .groupBy("source", "src")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.source") == F.col("e2.source"))
            & (F.col("e1.dst") == F.col("e2.src")),
        )
        .join(
            e3,
            (F.col("e1.source") == F.col("e3.source"))
            & (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
        )
        .groupBy(F.col("e1.source").alias("source"))
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    per = deg.groupBy("source").agg(
        F.count("*").cast("long").alias("n_vertices"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("long")
        .alias("wedges"),
    )
    n_edges = e.groupBy("source").agg(F.count("*").cast("long").alias("n_edges"))
    return (
        per.join(n_edges, "source", "left")
        .join(tri, "source", "left")
        .select(
            "source",
            "n_vertices",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            "wedges",
            F.when(
                F.col("wedges") > 0,
                3.0
                * F.coalesce("n_triangles", F.lit(0))
                / F.col("wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
        )
    )


ORACLES: dict[str, str] = {
    "similarity_edges": f"""
{EDGES_PREAMBLE}
SELECT source, src, dst, isect, (round(weight, 6) + 0.0) AS weight FROM edges
""",
    "graph_triangles": f"""
{EDGES_PREAMBLE},
canon AS (SELECT DISTINCT source, src, dst FROM edges WHERE src < dst),
deg AS (
  SELECT source, src, cast(count(*) AS bigint) AS deg
  FROM edges GROUP BY source, src
),
tri AS (
  SELECT e1.source, cast(count(*) AS bigint) AS n_triangles
  FROM canon e1
  JOIN canon e2 ON e1.source = e2.source AND e1.dst = e2.src
  JOIN canon e3 ON e1.source = e3.source AND e1.src = e3.src
              AND e2.dst = e3.dst
  GROUP BY e1.source
),
per AS (
  SELECT source, cast(count(*) AS bigint) AS n_vertices,
         cast(sum(deg * (deg - 1)) / 2 AS bigint) AS wedges
  FROM deg GROUP BY source
),
ne AS (SELECT source, cast(count(*) AS bigint) AS n_edges FROM canon GROUP BY source)
SELECT p.source, p.n_vertices,
       coalesce(ne.n_edges, 0) AS n_edges,
       coalesce(tri.n_triangles, 0) AS n_triangles,
       p.wedges,
       CASE WHEN p.wedges > 0
            THEN 3.0 * coalesce(tri.n_triangles, 0) / p.wedges
            ELSE 0.0 END AS transitivity
FROM per p
LEFT JOIN ne USING (source)
LEFT JOIN tri USING (source)
""",
}

QUERIES = {
    "similarity_edges": similarity_edges,
    "graph_triangles": graph_triangles,
}


# ---------------------------------------------------------------------------
# k-hop BFS reach (graph traversal)
# ---------------------------------------------------------------------------

K_HOPS = 3  # BFS radius from each per-source seed


def graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop BFS: for each source's similarity graph, every
    sentence within ``K_HOPS`` of the seed (the minimum sentence id that
    has an edge) with its hop distance — the traversal family
    (neighborhood expansion / impact radius) next to ranking (pagerank),
    clustering (dedup CC), and counting (triangles).

    Scale shape: K unrolled frontier-join iterations, each one equi-join
    of the CURRENT frontier against the edge table (shuffle keyed on the
    vertex) plus a LEFT ANTI against the visited set, so a vertex is
    expanded exactly once — frontiers shrink as the reachable set
    saturates, and nothing is ever all-pairs.  The same loop shape as
    ``pagerank.ranks_from`` (fixed iterations, ``localCheckpoint``-cut
    lineage); the oracle is a bounded recursive CTE taking min(hop).
    """
    # materialize the edge table ONCE (pagerank's static-weights pattern):
    # the seed aggregate + K frontier joins would otherwise each re-run
    # the tokenize + self-join plan that builds it
    edges = (
        edges_raw(spark, sf_dir)
        .select(
            F.col("source").alias("e_source"),
            F.col("src").alias("e_src"),
            F.col("dst").alias("e_dst"),
        )
        .transform(_owned_ckpt)
    )
    seeds = (
        edges.groupBy(F.col("e_source").alias("source"))
        .agg(F.min("e_src").alias("sentence_id"))
        .withColumn("hop", F.lit(0).cast("long"))
    )
    reach = seeds.transform(_owned_ckpt)
    frontier = reach
    for h in range(1, K_HOPS + 1):
        nxt = (
            frontier.join(
                edges,
                (F.col("source") == F.col("e_source"))
                & (F.col("sentence_id") == F.col("e_src")),
            )
            .select(
                F.col("e_source").alias("source"),
                F.col("e_dst").alias("sentence_id"),
            )
            .distinct()
            .join(reach, ["source", "sentence_id"], "left_anti")
            .withColumn("hop", F.lit(h).cast("long"))
            .transform(_owned_ckpt)
        )
        new_reach = reach.unionByName(nxt).transform(_owned_ckpt)
        # new_reach's eager checkpoint has materialized: round h-1's reach
        # (and its frontier, once consumed by this round's joins) are dead
        # — reclaim mid-query (ADVICE r8) so peak block-manager footprint
        # stays O(1) in K_HOPS, not O(K).  frontier is nxt_{h-1} which is
        # only read by THIS round's expansion join above.
        _retire_ckpt(reach)
        if frontier is not reach:
            _retire_ckpt(frontier)
        reach = new_reach
        frontier = nxt
    return reach


ORACLES["graph_khop"] = f"""
WITH RECURSIVE {SENTENCES_CTE}, {TR_SENT_CTE}, {TOKENS_TR_CTE}, {EDGES_CTE},
seeds AS (SELECT source, min(src) AS sentence_id FROM edges GROUP BY source),
walk(source, sentence_id, hop) AS (
  SELECT source, sentence_id, 0 FROM seeds
  UNION
  SELECT e.source, e.dst, w.hop + 1
  FROM walk w
  JOIN edges e ON e.source = w.source AND e.src = w.sentence_id
  WHERE w.hop < {K_HOPS}
)
SELECT source, sentence_id, cast(min(hop) AS bigint) AS hop
FROM walk GROUP BY source, sentence_id
"""
QUERIES["graph_khop"] = graph_khop


LPA_ITERS = 3


def graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over each source's similarity graph
    (synchronous LPA, Raghavan et al. 2007) — the community-detection
    family next to ranking (pagerank), clustering (dedup CC), counting
    (triangles), and traversal (graph_khop).  In a curation pipeline this
    is how near-topic sentence/document groups emerge from the similarity
    graph without choosing k.

    Determinism (what makes it value-gateable): synchronous updates
    (round r votes read ONLY round r-1 labels), vote ties broken by
    smallest label, fixed LPA_ITERS rounds.  Scale shape: each round is
    one edge->label equi-join (shuffle keyed on the vertex), a
    (vertex, label) count aggregate, and a per-vertex argmax window —
    O(edges) per round, the pagerank loop's cost profile, with
    ``localCheckpoint`` cutting the iterative lineage.  The oracle
    unrolls the same rounds as CTEs (the textrank_ranks pattern).
    """
    # leaf(), not a per-call eager checkpoint (r17): the loop reads the
    # static edge table LPA_ITERS times, and leaf() gives the same
    # owned, lineage-cut LogicalRDD — but MEMOIZED per plan semantics,
    # so repeated builds in one session (bench reps, window sweeps)
    # share one materialized edge table instead of re-executing the
    # tokenize+self-join diamond per build (the pagerank ew precedent,
    # functions.leaf).
    edges = leaf(edges_raw(spark, sf_dir).select("source", "src", "dst"))
    return _lpa_labels(edges)


def _lpa_labels(edges: DataFrame) -> DataFrame:
    """Synchronous LPA (fixed LPA_ITERS rounds, votes read only the
    previous round's labels, ties by smallest label) over any
    (source, src, dst) edge table — shared by :func:`graph_lpa` and
    :func:`graph_lpa_capped`."""
    labels = (
        edges.select("source", F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
    )
    for _ in range(LPA_ITERS):
        nbr = labels.select(
            F.col("source").alias("l_source"),
            F.col("v").alias("l_v"),
            "label",
        )
        # Argmax vote in ONE aggregation (r17, guide §2.3 "aggregate
        # before you shuffle"): ``mode(label, deterministic=true)`` is
        # exactly LPA's rule — the most frequent label, ties broken by
        # the LOWEST value — so the old count-per-(vertex,label) +
        # row_number-window pair (two exchanges and two sorts per
        # round) collapses to a single hash aggregate with map-side
        # partial maps (one exchange per round).  The aggregate's
        # output is hash-partitioned by (source, src), which is the
        # clustering the NEXT round's vote join needs on the label
        # side, so that exchange disappears too.  Values are identical:
        # mode's frequency == the old c, and "lowest label" is the
        # same binary string order row_number's ``ASC label`` used
        # (verified against the unchanged count+window oracle at
        # sf0.001 + sf0.01).
        labels = (
            edges.join(
                nbr,
                (F.col("source") == F.col("l_source"))
                & (F.col("dst") == F.col("l_v")),
            )
            .groupBy("source", F.col("src").alias("v"))
            .agg(F.mode("label", True).alias("label"))
        )
    # labels is LINEAR (each round's table feeds exactly the next round's
    # vote join), so the fixed-round chain runs as one un-cut plan — the
    # pagerank round-5 insight; only the EDGE table, re-read every round,
    # stays checkpointed.  Checkpoint every ~10 rounds before raising
    # LPA_ITERS past the analyzer's comfort.
    return labels.select(
        "source", F.col("v").alias("sentence_id"), "label"
    )


def _lpa_round_sql(prev: str, cur: str, table: str = "edges") -> str:
    return f"""
v{cur} AS (
  SELECT e.source, e.src, l.label, count(*) AS c
  FROM {table} e
  JOIN l{prev} l ON l.source = e.source AND l.v = e.dst
  GROUP BY e.source, e.src, l.label
),
l{cur} AS (
  SELECT source, src AS v, label FROM (
    SELECT *, row_number() OVER (PARTITION BY source, src
                                 ORDER BY c DESC, label) AS rn
    FROM v{cur}
  ) WHERE rn = 1
)"""


ORACLES["graph_lpa"] = f"""
{EDGES_PREAMBLE},
l0 AS (SELECT DISTINCT source, src AS v, src AS label FROM edges),
{",".join(_lpa_round_sql(str(i), str(i + 1)) for i in range(LPA_ITERS))}
SELECT source, v AS sentence_id, label FROM l{LPA_ITERS}
"""
QUERIES["graph_lpa"] = graph_lpa


DEGREE_CAP = 8
WORD_DF_CAP = 64  # clean sf0.1 max per-(source, word) df is 43: never binds


def edges_degree_capped(
    spark: SparkSession,
    sf_dir: str,
    cap: int = DEGREE_CAP,
    df_cap: int = WORD_DF_CAP,
) -> DataFrame:
    """Bounded edge builder for near-duplicate-heavy corpora (VERDICT r8
    task 4) — TWO composed bounds, one for construction, one for
    consumers:

    1. CANDIDATE-GENERATION bound (``df_cap``): the token equi-join is
       O(df²) per (source, word) blocking key, so a corpus where many
       sentences are near-identical (the scale probe's replicated
       corpus, boilerplate-heavy web text) explodes pair count
       ~quadratically inside each duplicate clique — and the degree cap
       alone cannot help, because ranking edges requires BUILDING them.
       The fix is the hot-key discipline every blocked dedup here uses:
       keep only the first ``df_cap`` sentences (by sentence_id) per
       (source, word) as pair CANDIDATES — one row_number window over
       the distinct token table — so pair work per blocking key is
       capped at df_cap² regardless of how many clones share the word.
       Per-sentence token counts (the weight denominator) still come
       from the FULL stream; df_cap = 64 clears the clean sf0.1 maximum
       (43), so on non-degenerate corpora the candidate set — and every
       downstream value — is identical to the uncapped builder's.
    2. DEGREE bound (``cap``): the kNN-graph discipline — keep each
       vertex's top-``cap`` neighbors by (weight desc, dst tie-break),
       then UNION-symmetrize (keep (u, v) if v is in u's top-cap OR u is
       in v's) so community structure stays connected while per-vertex
       degree is bounded by 2*cap.  Every edge-linear consumer (LPA)
       becomes O(vertices * cap) per round.

    Deterministic end-to-end: the df window orders by sentence_id, the
    weight expression is the same IEEE tree both engines compute (the
    textrank contract), and weight ties break by dst.
    """
    from pyspark.sql.window import Window

    toks = leaf(tokens_textrank(spark, sf_dir))
    ntok = toks.groupBy("source", "sentence_id").agg(
        F.count("*").alias("n")
    )
    w_df = Window.partitionBy("source", "word").orderBy("sentence_id")
    dist = (
        toks.select("source", "sentence_id", "word")
        .distinct()
        .withColumn("dfrn", F.row_number().over(w_df))
        .filter(F.col("dfrn") <= df_cap)
        .drop("dfrn")
    )
    a, b = dist.alias("a"), dist.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.word") == F.col("b.word"))
            & (F.col("a.sentence_id") != F.col("b.sentence_id")),
        )
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.sentence_id").alias("src"),
            F.col("b.sentence_id").alias("dst"),
        )
        .agg(F.count("*").cast("long").alias("isect"))
    )
    ns = ntok.select(
        F.col("source"), F.col("sentence_id").alias("src"),
        F.col("n").alias("n_src"),
    )
    nd = ntok.select(
        F.col("source"), F.col("sentence_id").alias("dst"),
        F.col("n").alias("n_dst"),
    )
    e = (
        pairs.join(ns, ["source", "src"])
        .join(nd, ["source", "dst"])
        .withColumn(
            "weight",
            F.col("isect") / (F.lit(1) + F.log2("n_src") + F.log2("n_dst")),
        )
    )
    w = Window.partitionBy("source", "src").orderBy(
        F.desc("weight"), F.asc("dst")
    )
    kept = (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select("source", "src", "dst")
    )
    rev = kept.select(
        "source", F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return kept.unionByName(rev).distinct()


def graph_lpa_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA communities over the degree-capped edge graph — the opt-in
    variant that survives near-duplicate edge explosions (same rounds,
    ties, and output schema as :func:`graph_lpa`; on a low-degree corpus
    where the cap never binds, communities are identical — pinned by
    test and by the x10 probe row `graph_lpa_capped`)."""
    # leaf() for the same reason as graph_lpa's edge table (r17): the
    # capped builder (two windows + self-join + two joins) is the
    # dominant construct cost, and the memoized leaf executes it once
    # per session instead of once per build.
    edges = leaf(edges_degree_capped(spark, sf_dir))
    return _lpa_labels(edges)


ORACLES["graph_lpa_capped"] = f"""
WITH {SENTENCES_CTE}, {TR_SENT_CTE}, {TOKENS_TR_CTE},
ntok AS (
  SELECT source, sentence_id, count(*) AS n
  FROM trtok GROUP BY source, sentence_id
),
dist AS (
  SELECT source, sentence_id, word
  FROM (SELECT DISTINCT source, sentence_id, word FROM trtok)
  QUALIFY row_number() OVER (PARTITION BY source, word
                             ORDER BY sentence_id) <= {WORD_DF_CAP}
),
pairs AS (
  SELECT a.source AS source, a.sentence_id AS src, b.sentence_id AS dst,
         count(*) AS isect
  FROM dist a
  JOIN dist b ON a.source = b.source AND a.word = b.word
             AND a.sentence_id <> b.sentence_id
  GROUP BY a.source, a.sentence_id, b.sentence_id
),
edges AS (
  SELECT p.source, p.src, p.dst, p.isect,
         p.isect / (1 + log2(ns.n) + log2(nd.n)) AS weight
  FROM pairs p
  JOIN ntok ns ON p.source = ns.source AND p.src = ns.sentence_id
  JOIN ntok nd ON p.source = nd.source AND p.dst = nd.sentence_id
),
ranked AS (
  SELECT source, src, dst,
         row_number() OVER (PARTITION BY source, src
                            ORDER BY weight DESC, dst) AS rk
  FROM edges
),
kept AS (SELECT source, src, dst FROM ranked WHERE rk <= {DEGREE_CAP}),
cedges AS (
  SELECT DISTINCT source, src, dst FROM (
    SELECT source, src, dst FROM kept
    UNION ALL
    SELECT source, dst AS src, src AS dst FROM kept
  )
),
l0 AS (SELECT DISTINCT source, src AS v, src AS label FROM cedges),
{",".join(_lpa_round_sql(str(i), str(i + 1), "cedges") for i in range(LPA_ITERS))}
SELECT source, v AS sentence_id, label FROM l{LPA_ITERS}
"""
QUERIES["graph_lpa_capped"] = graph_lpa_capped
