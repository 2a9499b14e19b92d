"""Traced run: each layer's public function called from outside, with its
jobs tagged, and the Spark event log summed per tag.

Every call gets its input already materialized in a benchmark-owned
persist.  Construction is timed under the job description
``<layer>.<fn>:construct``; execution persists the output and counts its
rows under ``<layer>.<fn>:exec``, so the output is the next call's
materialized input.  The event log (uncompressed, non-rolling) is read
after the session stops and every ``SparkListenerTaskEnd`` is added to the
tag of the job that ran it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

import proctree

# every traced call, in the order of the per-layer metric list
CALLS = (
    "io.read_reviews_tsv",
    "io.load_table",
    "text.sentences_from",
    "text.tokens_lsa_from",
    "text.tokens_textrank_from",
    "lsa.tfidf_long_from",
    "lsa.lsa_concepts_from",
    "graph.edges_from",
    "pagerank.ranks_from",
    "pagerank.top_sentences_from",
    "rouge.rouge_n_from",
)
CALL_METRICS = (
    ("construct_s", "s"),
    ("exec_s", "s"),
    ("rows", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
)
ARROW_CALLS = ("lsa.lsa_concepts_from", "rouge.rouge_n_from")
ARROW_METRICS = (("python_run_s", "s"), ("python_sent_mb", "MB"))
CONSTRUCT_ONLY = (
    "reviews.lsa_review_summary",
    "reviews.textrank_review_summary",
    "reviews.review_rouge_sweep",
)

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """Runs tagged calls against one session and keeps their wall-clock
    timings; :func:`aggregate` adds the executor side afterwards."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.timings: dict[str, dict[str, float]] = {}
        self.held = []

    def _tag(self, tag: str | None) -> None:
        self.sc.setJobDescription(tag)

    def call(self, name: str, build):
        """Time ``build()`` as construction, then persist + count its
        output as execution; returns the materialized output."""
        self._tag(f"{name}:construct")
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        self._tag(f"{name}:exec")
        df = df.persist()
        rows = df.count()
        t2 = time.perf_counter()
        self._tag(None)
        self.held.append(df)
        self.timings[name] = {"construct_s": t1 - t0, "exec_s": t2 - t1, "rows": rows}
        return df

    def construct_only(self, name: str, build) -> None:
        self._tag(f"{name}:construct")
        t0 = time.perf_counter()
        build()
        self.timings[name] = {"construct_s": time.perf_counter() - t0}
        self._tag(None)

    def prep(self, df):
        """Materialize a benchmark-side input under the ``prep`` tag."""
        self._tag("prep")
        df = df.persist()
        df.count()
        self._tag(None)
        self.held.append(df)
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


def reviews_chain(tr: Tracer, path: str) -> dict[str, float]:
    """The review pipeline of ``reviews.py``, one layer call at a time."""
    from pyspark.sql import functions as F

    from bigdataanalytics_textsummarization_spark import io, reviews

    raw = tr.call("io.read_reviews_tsv", lambda: io.read_reviews_tsv(tr.spark, path))
    base = raw.select(
        F.col("review_id").alias("doc_id"),
        F.col("product_id").alias("source"),
        F.col("review_body").alias("text"),
    )
    return _summaries_chain(tr, base, reviews._lemma(), _review_pairs)


def docs_chain(tr: Tracer, path: str) -> dict[str, float]:
    """The documents-table pipeline of ``text``/``lsa``/``pagerank``/
    ``rouge``, one layer call at a time."""
    from pyspark.sql import functions as F

    from bigdataanalytics_textsummarization_spark import io
    from bigdataanalytics_textsummarization_spark.functions import lemma_light

    docs = tr.call("io.load_table", lambda: io.load_table(tr.spark, path, "documents"))
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "source", "text")

    def pairs(_top, _concepts, _sent):
        cand = docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") / 2).cast("long").alias("pair_id"),
            F.col("text").alias("cand_text"),
        )
        ref = docs.filter(F.col("doc_id") % 2 == 1).select(
            ((F.col("doc_id") - 1) / 2).cast("long").alias("pair_id"),
            F.col("text").alias("ref_text"),
        )
        return cand.join(ref, "pair_id")

    return _summaries_chain(tr, base, lemma_light, pairs)


def _review_pairs(top, concepts, sent):
    """TextRank top-k vs LSA summary text per product, ordered by rank,
    as ``reviews.review_rouge_sweep`` pairs them."""
    from pyspark.sql import functions as F

    def ordered_text(*keys):
        return F.concat_ws(
            ". ",
            F.transform(
                F.array_sort(F.collect_list(F.struct(*keys, "sentence"))),
                lambda s: s["sentence"],
            ),
        )

    cand = top.groupBy("source").agg(ordered_text("rk").alias("cand_text"))
    text = sent.select(F.col("sentence_id").alias("item"), "sentence")
    ref = (
        concepts.filter(F.col("kind") == "sentence")
        .join(text, "item")
        .groupBy("source")
        .agg(ordered_text("concept", "rk").alias("ref_text"))
    )
    return cand.join(ref, "source").select(
        F.col("source").alias("pair_id"), "cand_text", "ref_text"
    )


def _summaries_chain(tr: Tracer, base, lemma, make_pairs) -> dict[str, float]:
    from pyspark.sql import functions as F

    from bigdataanalytics_textsummarization_spark import graph, lsa, pagerank, rouge, text

    sent = tr.call("text.sentences_from", lambda: text.sentences_from(base))
    toks_lsa = tr.call("text.tokens_lsa_from", lambda: text.tokens_lsa_from(sent, lemma=lemma))
    toks_tr = tr.call(
        "text.tokens_textrank_from", lambda: text.tokens_textrank_from(sent, lemma=lemma)
    )
    tfidf = tr.call(
        "lsa.tfidf_long_from",
        lambda: lsa.tfidf_long_from(toks_lsa, text.lsa_sentences_from(sent)),
    )
    cells = tfidf.groupBy("source").agg(
        (F.countDistinct("word") * F.countDistinct("sentence_id")).alias("c")
    )
    tr._tag("prep")
    svd_cells = cells.agg(F.sum("c")).collect()[0][0]
    tr._tag(None)
    concepts = tr.call("lsa.lsa_concepts_from", lambda: lsa.lsa_concepts_from(tfidf))
    worker_mb = proctree.python_worker_hwm_mb()
    edges = tr.call("graph.edges_from", lambda: graph.edges_from(toks_tr))
    ranks = tr.call("pagerank.ranks_from", lambda: pagerank.ranks_from(edges))
    top = tr.call(
        "pagerank.top_sentences_from", lambda: pagerank.top_sentences_from(ranks, sent, k=5)
    )
    pairs = tr.prep(make_pairs(top, concepts, sent))
    tr.call("rouge.rouge_n_from", lambda: rouge.rouge_n_from(pairs, stemmed=True))
    return {"lsa.svd_cells": float(svd_cells), "lsa.worker_peak_mb": worker_mb}


def review_constructs(tr: Tracer, path: str) -> None:
    """Construction cost of the three ``reviews`` entry points, each on
    empty pin registries so no leaf is a memo hit."""
    from bigdataanalytics_textsummarization_spark import functions, reviews

    for fn in (
        reviews.lsa_review_summary,
        reviews.textrank_review_summary,
        reviews.review_rouge_sweep,
    ):
        functions.release_pins()
        tr.construct_only(f"reviews.{fn.__name__}", lambda: fn(tr.spark, path))
    functions.release_pins()


def aggregate(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics from the event log(s) in ``log_dir`` per call
    (the job description up to its ``:construct``/``:exec`` suffix)."""
    stage_tag: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    tag = (ev.get("Properties") or {}).get("spark.job.description")
                    if tag:
                        for s in ev["Stage IDs"]:
                            stage_tag[s] = tag.split(":")[0]
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    tag = stage_tag.get(ev["Stage ID"])
                    if tag is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    acc = out[tag]
                    acc["tasks"] += 1
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") == "time to run Python workers":
                            acc["python_run_s"] += float(a.get("Update", 0)) / 1e3
                        elif a.get("Name") == "data sent to Python workers":
                            acc["python_sent_mb"] += float(a.get("Update", 0)) / 1e6
    return out


def layer_metrics(tr: Tracer, executor: dict[str, dict[str, float]]) -> dict[str, float]:
    """Flatten wall-clock timings + executor sums into per-layer metric
    values; calls that did not run on this workload report 0."""
    out: dict[str, float] = {}
    for call in CALLS:
        t = tr.timings.get(call, {})
        e = executor.get(call, {})
        for metric, _ in CALL_METRICS:
            out[f"{call}.{metric}"] = float(t.get(metric, e.get(metric, 0.0)))
        if call in ARROW_CALLS:
            for metric, _ in ARROW_METRICS:
                out[f"{call}.{metric}"] = float(e.get(metric, 0.0))
    for call in CONSTRUCT_ONLY:
        out[f"{call}.construct_s"] = float(tr.timings.get(call, {}).get("construct_s", 0.0))
    return out
