"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``bigdataanalytics_textsummarization_spark/``;
this module only aggregates their QUERIES/ORACLES registries and orders
them so the driver's budget-capped window reaches the queries certified
longest ago first (``window_order`` over the committed round artifacts).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from bigdataanalytics_textsummarization_spark import (  # noqa: E402
    graph,
    lsa,
    mllib_variants,
    pagerank,
    relational,
    relational_ext,
    tpch,
    rouge,
    text,
)
from bigdataanalytics_textsummarization_spark.extensions import (  # noqa: E402
    curation,
    dedup,
    multimodal,
    similarity,
    snapshot,
    text_analysis,
)
from bigdataanalytics_textsummarization_spark.streaming import (  # noqa: E402
    events as streaming_events,
)

# queries() orders the merged registries oldest last green first (window_order).
_MODULES = [
    text,
    graph,
    pagerank,
    relational,
    rouge,
    dedup,
    streaming_events,
    multimodal,
    curation,
    snapshot,
    mllib_variants,
    similarity,
    lsa,
    text_analysis,
    relational_ext,
    tpch,
]

# The driver certifies the first WINDOW_SLOTS names of queries() per round.
WINDOW_SLOTS = 50


def artifact_round(path: str) -> int:
    """CORRECTNESS_r18.json -> 18."""
    return int(re.search(r"_r(\d+)\.json$", os.path.basename(path)).group(1))


def last_green_rounds(paths: Iterable[str] | None = None) -> dict[str, int]:
    """query -> newest round whose ``CORRECTNESS_rN.json`` row is green: no
    ``err`` and every non-null match flag true.  ``paths`` defaults to
    every round artifact next to this module."""
    if paths is None:
        paths = glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))
    out: dict[str, int] = {}
    for path in sorted(paths, key=artifact_round):
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            flags = [
                row.get(k)
                for k in ("rows_match", "schema_match", "hash_match")
                if row.get(k) is not None
            ]
            if not row.get("err") and flags and all(flags):
                out[name] = artifact_round(path)
    return out


def window_order(names: Iterable[str], greens: dict[str, int]) -> list[str]:
    """Oldest certification first: key (last green round, 0 if never
    green; name)."""
    return sorted(names, key=lambda n: (greens.get(n, 0), n))


# Read once at import: queries() runs inside timed passes.
_GREENS = last_green_rounds()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: per-document top-3 TF-IDF keywords at sf0.001.

    Exercises the full relational core: parquet scan -> explode -> filters ->
    group-agg -> broadcast joins -> window top-k (SURVEY.md §7.1 step 1).
    """
    return text.top_keywords(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    return {name: merged[name] for name in window_order(merged, _GREENS)}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out
