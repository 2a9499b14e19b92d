"""One size gate for the per-corpus numpy kernels (LSA's TF-IDF + SVD,
TextRank's similarity + PageRank).

Both kernels run one ``groupBy("source").applyInPandas`` batch per corpus
and hold that corpus's dense matrices inside one Python worker.  That is
the cheap plan for the common many-products-x-small-matrices workload, and
the reference's OOM cliff (BigdataProjectCode.py:130-142) for one grown
corpus.  The gate sends every source whose matrix cells exceed a budget to
the algorithm's distributed fallback and unions the two outputs; dispatch
is all-or-nothing per source, so each path keeps its exact single-path
semantics.

The routing decision is a property of the dataset, not of the query call,
so it is memoized per (input path, kernel, budget, dataset signature): a
repeated call skips the size probe, and a rewritten dataset re-probes.
"""

from __future__ import annotations

import functools
import glob
import os
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Per-source budget in float64 cells: 4M cells is 32 MB inside one Python
# worker, comfortably held; 100x that is the OOM cliff the reference hits
# at code:134-142.
MAX_LOCAL_CELLS = 4_000_000

Routing = tuple[list[str], int]  # (oversized sources, total source count)
Cells = Callable[[Column, Column], Column]  # (n_sentences, n_words) -> cells

# (path, kernel, max_cells, dataset signature) -> Routing.  Stale entries
# for the same (path, kernel, max_cells) are evicted on a re-probe, so the
# memo stays bounded per dataset.  Without the signature a grown corpus
# kept its stale small-matrix routing, which is the worker-OOM cliff the
# gate exists to avoid.
_DISPATCH_CACHE: dict[tuple, Routing] = {}


def _dataset_signature(path: str) -> tuple:
    """Cheap change-detection key for any input file, directory or glob:
    (path, size, mtime) per file, one os.stat walk, no data read.  Empty
    when nothing can be enumerated (remote FS, object store, missing).
    A path that exists is taken as written, so a directory named like
    ``run[1]`` is never read as a pattern matching some other input."""
    sig = []
    tops = [path] if os.path.exists(path) else sorted(glob.glob(path))
    for top in tops:
        files = [top] if os.path.isfile(top) else [
            os.path.join(d, n)
            for d, _, names in sorted(os.walk(top))
            for n in sorted(names)
        ]
        for p in files:
            st = os.stat(p)
            sig.append((p, st.st_size, int(st.st_mtime_ns)))
    return tuple(sig)


def _oversized_sources(frame: DataFrame, max_cells: int, cells: Cells) -> Routing:
    """(sources whose kernel matrices exceed max_cells, total source
    count) over a (source, sentence_id, word, ...) frame: one bounded
    aggregate, a row per corpus."""
    stats = (
        frame.groupBy("source")
        .agg(
            cells(F.countDistinct("sentence_id"), F.countDistinct("word")).alias(
                "cells"
            )
        )
        .collect()
    )
    big = sorted(r["source"] for r in stats if r["cells"] > max_cells)
    return big, len(stats)


def route(
    frame: DataFrame,
    kernel: str,
    cells: Cells,
    max_cells: int,
    path: str | None = None,
) -> Routing:
    """The routing for ``frame``, memoized per dataset when ``path`` names
    an input whose files can be enumerated; otherwise probed on every call,
    since change detection is impossible and a stale memo risks the OOM
    cliff."""
    sig = _dataset_signature(path) if path else ()
    if not sig:
        return _oversized_sources(frame, max_cells, cells)
    key = (path, kernel, max_cells, sig)
    if key not in _DISPATCH_CACHE:
        for k in [k for k in _DISPATCH_CACHE if k[:3] == key[:3]]:
            del _DISPATCH_CACHE[k]
        _DISPATCH_CACHE[key] = _oversized_sources(frame, max_cells, cells)
    return _DISPATCH_CACHE[key]


def split(
    frame: DataFrame,
    routing: Routing,
    local: Callable[[DataFrame], DataFrame],
    fallback: Callable[[DataFrame, list[str]], DataFrame],
) -> DataFrame:
    """``local`` over the sources that fit, ``fallback(part, big)`` over
    the oversized ones, unioned by name."""
    big, n_sources = routing
    if not big:
        return local(frame)
    in_big = F.col("source").isin(big)
    parts = [fallback(frame.filter(in_big), big)]
    if len(big) < n_sources:
        parts.insert(0, local(frame.filter(~in_big)))
    return functools.reduce(DataFrame.unionByName, parts)


def dispatch(
    frame: DataFrame,
    kernel: str,
    cells: Cells,
    local: Callable[[DataFrame], DataFrame],
    fallback: Callable[[DataFrame, list[str]], DataFrame],
    max_cells: int = MAX_LOCAL_CELLS,
    path: str | None = None,
) -> DataFrame:
    """Route ``frame`` and run each part on its path."""
    routing = route(frame, kernel, cells, max_cells, path)
    return split(frame, routing, local, fallback)
