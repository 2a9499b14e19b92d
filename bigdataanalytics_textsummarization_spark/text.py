"""Text pipeline core: sentence explode, tokenization, term statistics.

Re-expresses the reference's RDD text pipeline (SURVEY.md §2.2, §2.4, §2.7)
as declarative DataFrame transforms.  The reference's two inconsistent
tokenizations (LSA vs TextRank — SURVEY.md §7.2) are kept as two explicit
configs of one tokenizer:

- LSA mode   (BigdataProjectCode.py:62-68): sentence needs >= 5 space-split
  words; keep alpha tokens with raw length >= 3, lowercase not a stopword,
  then lemmatize.
- TextRank mode (BigdataProjectCode.py:359-368, 377-378): sentence needs
  10 < words < 30; keep alpha tokens with raw length > 3, lowercase not a
  stopword, then lemmatize.

Corpus unit: the reference treats one product file as a corpus and each
review sentence as a "document" of the TF-IDF matrix; here ``source`` is the
corpus key and exploded sentences are the documents.  All statistics are
computed per-source, so at 100 TB the whole pipeline is a single
shuffle-by-(source, word) — no driver materialization anywhere (the
reference collects the full matrix to the driver, code:130-137).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import (
    session_memo,
    STOPWORDS_SQL,
    lemma_light,
    lemma_sql,
    lemma_wordnet,
    lemma_wordnet_sql,
    leaf,
    r6,
)
from .io import load_table

# ---------------------------------------------------------------------------
# DataFrame builders (composable; each also exposed as a queries() entry)
# ---------------------------------------------------------------------------


def sentences_from(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """D2 core: explode any (id, source, text) frame into sentences on the
    naive '.' split (F2/F3) — works for the documents table AND the
    reference's TSV reviews (id = review_id, source = product_id).

    Keeps the reference's naive semantics — no abbreviation handling, empty
    strings kept (BigdataProjectCode.py:44/55/373); sentence_id =
    ``<id>_<pos>`` (code:45).
    """
    extra = [c for c in docs.columns if c not in (id_col, text_col)]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *extra,
        F.posexplode(F.split(text_col, "\\.")).alias("pos", "sentence"),
    ).select(
        F.concat_ws("_", F.col("doc_id"), F.col("pos")).alias("sentence_id"),
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "sentence",
        *extra,
    )


@session_memo
def sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 over the synthetic documents table (doc_id cast long for parity)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    out = sentences_from(docs)
    return out.select(
        "sentence_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        "pos",
        "sentence",
        "source",
        "lang",
    )


def _space_words(col: str) -> F.Column:
    # len(sentence.split(' ')) — empties counted, exactly like Python's
    # str.split(' ') (BigdataProjectCode.py:61/377).
    return F.size(F.split(F.col(col), " ", -1))


def _tokenize(
    sent: DataFrame,
    min_words: int,
    max_words: int | None,
    min_raw_len: int,
    lemma=lemma_light,
) -> DataFrame:
    """Shared tokenizer: alpha regex -> raw-length + stopword filter -> lemma.

    ``lemma`` selects the normalization: ``lemma_light`` (regular-plural
    rules, the SQL-twin default) or ``lemma_wordnet`` (WordNet-parity
    exceptions + morphy detachment rules — the reference's
    WordNetLemmatizer semantics, code:51/68).
    """
    cond = _space_words("sentence") >= F.lit(min_words)
    if max_words is not None:
        cond = (_space_words("sentence") > F.lit(min_words)) & (
            _space_words("sentence") < F.lit(max_words)
        )
    filtered = sent.filter(cond)
    raw = filtered.select(
        "sentence_id",
        "doc_id",
        "source",
        F.explode(F.expr("regexp_extract_all(sentence, '[A-Za-z]+', 0)")).alias("raw"),
    )
    # the stopword test is parsed from one SQL literal list, not built
    # from one F.lit per stopword (~700 Py4J round trips per call)
    return (
        raw.withColumn("lw", F.lower("raw"))
        .filter(
            (F.length("raw") >= F.lit(min_raw_len))
            & F.expr(f"lw NOT IN {STOPWORDS_SQL}")
        )
        .select(
            "sentence_id",
            "doc_id",
            "source",
            lemma(F.col("lw")).alias("word"),
        )
    )


def lsa_sentences_from(sent: DataFrame) -> DataFrame:
    """Sentences passing the LSA min-word filter (P3) — defines TF-IDF's N."""
    return sent.filter(_space_words("sentence") >= 5)


def tokens_lsa_from(sent: DataFrame, lemma=lemma_light) -> DataFrame:
    """LSA-mode token stream from any sentences frame."""
    return _tokenize(sent, 5, None, 3, lemma=lemma)


def tokens_textrank_from(sent: DataFrame, lemma=lemma_light) -> DataFrame:
    """TextRank-mode token stream from any sentences frame."""
    return _tokenize(sent, 10, 30, 4, lemma=lemma)


@session_memo
def lsa_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsa_sentences_from(sentences(spark, sf_dir))


@session_memo
def tokens_lsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSA-mode token stream, long form (sentence_id, word)."""
    return tokens_lsa_from(sentences(spark, sf_dir))


@session_memo
def tokens_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank-mode token stream: band filter 10<words<30, raw len > 3."""
    return tokens_textrank_from(sentences(spark, sf_dir))


@session_memo
def tokens_wordnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSA-mode token stream under the WordNet-parity lemmatizer (F6) —
    the reference's WordNetLemmatizer semantics (code:51/68): irregular
    nouns resolve through the exception map (children->child), sibilant
    plurals through the detachment rules (boxes->box)."""
    return tokens_lsa_from(sentences(spark, sf_dir), lemma=lemma_wordnet)


@session_memo
def n_sentences_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus size N per source (sentences passing the LSA filter) — the
    TF-IDF denominator shared by term_stats, top_keywords, and the LSA
    pipeline.  A memoized builder so a multi-query session computes the
    documents scan + explode + count once; sentence_id is unique by
    construction (doc_id x pos), so the corpus size is a plain count —
    no Expand/distinct aggregation."""
    return lsa_sentences(spark, sf_dir).groupBy("source").agg(
        F.count("*").cast("double").alias("n_sentences")
    )


def term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/D6/D7 relational encoding: tf, df, idf=log10(N/df), tfidf (A1, A3, F8).

    Per-source corpus.  N = sentences passing the LSA filter (the reference's
    matrix width counts token-empty sentences too, code:119-131).
    idf uses the reference's exact unsmoothed log10(N/df) (code:87/135) —
    NOT MLlib's ln((N+1)/(df+1)).
    """
    toks = tokens_lsa(spark, sf_dir)
    n_per_source = n_sentences_per_source(spark, sf_dir)
    # One tokenization pass: tf is the base aggregation, df re-aggregates it
    # (each (sentence_id, word) appears once in tf, so df = count(*)).
    # Persisted explicitly: exchange reuse does NOT fire here — the
    # optimizer folds the df branch's two stacked aggregations into one,
    # so the subtrees stop matching and the scan+explode+shuffle pipeline
    # runs once per branch (measured 6 scans / 10 explodes in the physical
    # plan at sf0.1).  The persist pins the diamond to a single
    # tokenization at the cost of caching one row per (sentence, word) —
    # the same trade a 100 TB run wants, spilling via MEMORY_AND_DISK.
    # leaf(), not bare pin (r8): the df branch + two joins each re-analyze
    # the tokenize tree eagerly; the lazy-checkpoint leaf cuts that to one
    # walk (VERDICT r7 task 5).
    tf = leaf(toks.groupBy("source", "sentence_id", "word").agg(
        F.count("*").cast("long").alias("tf")
    ))
    df = tf.groupBy("source", "word").agg(
        F.count("*").cast("long").alias("df")
    )
    # Both joins are small-side broadcastable (distinct sources / vocab);
    # Catalyst picks broadcast automatically under the 64 MB threshold.
    out = (
        tf.join(df, ["source", "word"])
        .join(F.broadcast(n_per_source), "source")
        .withColumn("idf_raw", F.log10(F.col("n_sentences") / F.col("df")))
        .select(
            "source",
            "sentence_id",
            "word",
            "tf",
            "df",
            r6(F.col("idf_raw")).alias("idf"),
            r6(F.col("tf") * F.col("idf_raw")).alias("tfidf"),
        )
    )
    return out


def tf_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 as a true MapType column: sentence_id -> map<word, count>.

    The reference's per-sentence ``dict[word -> count]`` (code:76-82), kept
    relationally everywhere else but exposed here as the map-typed shape
    (map_from_entries over a sorted entry array — deterministic key order),
    serialized with to_json so the DuckDB oracle can value-check a map
    column exactly.
    """
    toks = tokens_lsa(spark, sf_dir)
    tf = toks.groupBy("sentence_id", "word").agg(
        F.count("*").cast("int").alias("cnt")
    )
    return tf.groupBy("sentence_id").agg(
        F.to_json(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("word", "cnt")))
            )
        ).alias("tf_json")
    )


def vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/D5: distributed vocabulary with corpus-wide df and total tf.

    The reference concatenates every token list on the driver and dedupes
    with a Python set (code:120-121) — O(total words) driver memory; here it
    is one groupBy that scales linearly with executors.
    """
    return tokens_lsa(spark, sf_dir).groupBy("word").agg(
        F.countDistinct("sentence_id").cast("long").alias("df"),
        F.count("*").cast("long").alias("total_tf"),
    )


def top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 as a window: top-3 keywords per document by summed TF-IDF.

    Replaces the reference's driver-side numpy argsort over VT
    (code:97/107) with row_number over a partitioned window — fully
    distributed, deterministic tiebreak (score desc, word asc).
    """
    toks = tokens_lsa(spark, sf_dir)
    n_per_source = n_sentences_per_source(spark, sf_dir)
    # Single tokenization pass: aggregate once at sentence granularity, then
    # derive both df (distinct sentences per word) and per-doc tf from it.
    # Persisted for the same reason as term_stats' tf: the stacked
    # aggregations in each branch collapse differently, exchange reuse
    # never fires, and without the pin the tokenization runs per branch.
    # leaf(), not bare pin (r8): same construct-time cut as term_stats.
    base = leaf(toks.groupBy("source", "doc_id", "sentence_id", "word").agg(
        F.count("*").alias("cnt")
    ))
    df = base.groupBy("source", "word").agg(F.count("*").alias("df"))
    tf_doc = base.groupBy("source", "doc_id", "word").agg(
        F.sum("cnt").alias("tf")
    )
    scored = (
        tf_doc.join(df, ["source", "word"])
        .join(F.broadcast(n_per_source), "source")
        .withColumn(
            "score_raw",
            F.col("tf") * F.log10(F.col("n_sentences") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_raw"), F.asc("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "rk", "word", r6(F.col("score_raw")).alias("score"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (shared CTE fragments)
# ---------------------------------------------------------------------------

SENTENCES_CTE = """
sent AS (
  SELECT cast(doc_id AS varchar) || '_' || cast(pos AS varchar) AS sentence_id,
         doc_id, pos, sentence, source, lang
  FROM (
    SELECT doc_id, source, lang,
           unnest(string_split(text, '.')) AS sentence,
           unnest(range(len(string_split(text, '.')))) AS pos
    FROM documents
  )
)
"""

LSA_SENT_CTE = (
    "lsa_sent AS (SELECT * FROM sent WHERE len(string_split(sentence, ' ')) >= 5)"
)


def _tokens_cte(name: str, src_cte: str, min_raw_len: int) -> str:
    return f"""
{name}_raw AS (
  SELECT sentence_id, doc_id, source,
         unnest(regexp_extract_all(sentence, '[A-Za-z]+')) AS raw
  FROM {src_cte}
),
{name} AS (
  SELECT sentence_id, doc_id, source, {lemma_sql('lower(raw)')} AS word
  FROM {name}_raw
  WHERE length(raw) >= {min_raw_len} AND lower(raw) NOT IN {STOPWORDS_SQL}
)
"""


TOKENS_LSA_CTE = _tokens_cte("tok", "lsa_sent", 3)

TR_SENT_CTE = (
    "tr_sent AS (SELECT * FROM sent WHERE len(string_split(sentence, ' ')) > 10 "
    "AND len(string_split(sentence, ' ')) < 30)"
)
TOKENS_TR_CTE = _tokens_cte("trtok", "tr_sent", 4)


ORACLES: dict[str, str] = {
    "sentences": f"WITH {SENTENCES_CTE} SELECT * FROM sent",
    "tokens_lsa": f"""
WITH {SENTENCES_CTE}, {LSA_SENT_CTE}, {TOKENS_LSA_CTE}
SELECT sentence_id, doc_id, source, word FROM tok
""",
    "tokens_textrank": f"""
WITH {SENTENCES_CTE}, {TR_SENT_CTE}, {TOKENS_TR_CTE}
SELECT sentence_id, doc_id, source, word FROM trtok
""",
    "tokens_wordnet": f"""
WITH {SENTENCES_CTE}, {LSA_SENT_CTE},
wtok_raw AS (
  SELECT sentence_id, doc_id, source,
         unnest(regexp_extract_all(sentence, '[A-Za-z]+')) AS raw
  FROM lsa_sent
)
SELECT sentence_id, doc_id, source,
       {lemma_wordnet_sql('lower(raw)')} AS word
FROM wtok_raw
WHERE length(raw) >= 3 AND lower(raw) NOT IN {STOPWORDS_SQL}
""",
    "term_stats": f"""
WITH {SENTENCES_CTE}, {LSA_SENT_CTE}, {TOKENS_LSA_CTE},
n AS (SELECT source, cast(count(DISTINCT sentence_id) AS double) AS n_sentences
      FROM lsa_sent GROUP BY source),
tf AS (SELECT source, sentence_id, word, count(*) AS tf
       FROM tok GROUP BY source, sentence_id, word),
df AS (SELECT source, word, count(DISTINCT sentence_id) AS df
       FROM tok GROUP BY source, word)
SELECT tf.source, tf.sentence_id, tf.word, tf.tf, df.df,
       (round(log10(n.n_sentences / df.df), 6) + 0.0) AS idf,
       (round(tf.tf * log10(n.n_sentences / df.df), 6) + 0.0) AS tfidf
FROM tf JOIN df ON tf.source = df.source AND tf.word = df.word
JOIN n ON tf.source = n.source
""",
    "tf_map": f"""
WITH {SENTENCES_CTE}, {LSA_SENT_CTE}, {TOKENS_LSA_CTE},
tf AS (SELECT sentence_id, word, count(*) AS cnt
       FROM tok GROUP BY sentence_id, word)
SELECT sentence_id,
       '{{' || string_agg('"' || word || '":' || cnt, ',' ORDER BY word) || '}}'
         AS tf_json
FROM tf GROUP BY sentence_id
""",
    "vocabulary": f"""
WITH {SENTENCES_CTE}, {LSA_SENT_CTE}, {TOKENS_LSA_CTE}
SELECT word, count(DISTINCT sentence_id) AS df, count(*) AS total_tf
FROM tok GROUP BY word
""",
    "top_keywords": f"""
WITH {SENTENCES_CTE}, {LSA_SENT_CTE}, {TOKENS_LSA_CTE},
n AS (SELECT source, cast(count(DISTINCT sentence_id) AS double) AS n_sentences
      FROM lsa_sent GROUP BY source),
df AS (SELECT source, word, count(DISTINCT sentence_id) AS df
       FROM tok GROUP BY source, word),
tf_doc AS (SELECT source, doc_id, word, count(*) AS tf
           FROM tok GROUP BY source, doc_id, word),
scored AS (
  SELECT t.doc_id, t.word,
         t.tf * log10(n.n_sentences / df.df) AS score_raw
  FROM tf_doc t
  JOIN df ON t.source = df.source AND t.word = df.word
  JOIN n ON t.source = n.source
),
ranked AS (
  SELECT doc_id, word, score_raw,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_raw DESC, word ASC) AS rk
  FROM scored
)
SELECT doc_id, rk, word, (round(score_raw, 6) + 0.0) AS score
FROM ranked WHERE rk <= 3
""",
}

QUERIES = {
    "sentences": sentences,
    "tokens_lsa": tokens_lsa,
    "tokens_textrank": tokens_textrank,
    "tokens_wordnet": tokens_wordnet,
    "term_stats": term_stats,
    "tf_map": tf_map,
    "vocabulary": vocabulary,
    "top_keywords": top_keywords,
}
