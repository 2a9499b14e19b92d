"""Round-8 regression pins for the four ADVICE r7 items + VERDICT r7 task 3.

1. checkpoint blocks have an owner: release_pins() frees the storage behind
   pin_checkpoint()'d frames (pagerank's lazy LogicalRDD leaf), not just the
   pre-checkpoint cache;
2. the LSA dispatch memo is NOT populated when the dataset signature walk
   cannot enumerate files (remote FS) — probe every call instead of risking
   the stale-routing OOM cliff;
3. pin() is idempotent — the LSA probe + lsa_concepts_auto_from double-pin
   produces one registry entry and one unpersist;
4. rfm_segments' monetary goes through r2() — enforced by a static lint:
   no bare decimal-digit F.round anywhere in the package outside the r2/r6
   definitions (integer-cast rounds like round(x*100).cast('long') are fine,
   they can never emit a float -0.0).
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from bigdataanalytics_textsummarization_spark import graph, lsa, pagerank, sizegate
from bigdataanalytics_textsummarization_spark.functions import (
    _CHECKPOINTS,
    _PINS,
    pin,
    pin_checkpoint,
    release_pins,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "bigdataanalytics_textsummarization_spark")


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_pin_is_idempotent(spark):
    release_pins()
    df = spark.range(100).select((F.col("id") % 3).alias("k"))
    a = pin(df)
    b = pin(a)  # the lsa_concepts_auto -> lsa_concepts_auto_from path
    assert a is b
    assert len(_PINS) == 1
    assert release_pins() == 1
    assert not df.storageLevel.useMemory


def test_checkpoint_storage_released_after_ranks_from(spark):
    """VERDICT r7 task 3 'done' gate: storage is empty after release_pins()
    following a ranks_from materialization — the lazy localCheckpoint RDD
    no longer waits on GC + ContextCleaner."""
    release_pins()
    before = _persistent_ids(spark)
    # the join path: textrank_ranks takes the per-product kernel, which
    # checkpoints nothing
    ranks = pagerank.ranks_from(graph.edges_raw(spark, SF_DIR))
    assert ranks.count() > 0  # materializes the pinned cache + checkpoint
    during = _persistent_ids(spark)
    assert len(during) > len(before)  # the pin and/or checkpoint RDD is live
    assert len(_CHECKPOINTS) >= 1
    release_pins()
    assert not _PINS and not _CHECKPOINTS
    after = _persistent_ids(spark)
    assert after <= before  # every block this query pinned is gone


def test_pin_checkpoint_releases_blocks_directly(spark):
    """The LogicalRDD-leaf unpersist path works on a plain frame too."""
    release_pins()
    before = _persistent_ids(spark)
    cp = pin_checkpoint(spark.range(1000).select((F.col("id") * 2).alias("v")))
    assert cp.count() == 1000
    assert _persistent_ids(spark) - before  # checkpoint RDD is registered
    release_pins()
    assert _persistent_ids(spark) <= before


def test_lsa_memo_not_polluted_when_signature_unenumerable(spark, monkeypatch):
    """ADVICE r7: an empty dataset signature (os.walk saw zero files —
    remote FS, missing dir) must NOT create a memo entry; every call
    re-probes instead of silently never invalidating."""
    probes: list[int] = []
    sentinel = ([], 3)

    monkeypatch.setattr(sizegate, "_dataset_signature", lambda path: ())
    monkeypatch.setattr(lsa, "_tfidf_long", lambda s, d: spark.range(1))
    monkeypatch.setattr(
        sizegate, "_oversized_sources",
        lambda frame, mc, cells: (probes.append(1), sentinel)[1],
    )
    captured: list = []
    monkeypatch.setattr(
        sizegate, "split",
        lambda frame, routing, local, fallback: (captured.append(routing), frame)[1],
    )
    memo_before = dict(sizegate._DISPATCH_CACHE)
    try:
        lsa.lsa_concepts_auto(spark, "/no/such/remote/path")
        lsa.lsa_concepts_auto(spark, "/no/such/remote/path")
    finally:
        release_pins()
    assert sizegate._DISPATCH_CACHE == memo_before  # nothing memoized
    assert len(probes) == 2  # probed on EVERY call
    assert captured == [sentinel, sentinel]


def test_pin_registry_single_thread_contract(spark):
    """VERDICT r7 task 7: the pin/checkpoint registries are plain module
    globals owned by ONE thread — the driver loop, bench.py, or pytest.
    This test documents and enforces the contract's observable shape:

    - both registries are ordinary lists (not thread-local storage), so
      cross-thread use WOULD race — callers must not share them across
      threads (concurrent builders need their own SparkSession anyway);
    - a build/release cycle from the owning thread leaves both empty, so
      single-threaded sequential ownership is sufficient to never leak.
    """
    import threading

    from bigdataanalytics_textsummarization_spark import functions as fx

    # shape: module-global lists, not threading.local — the contract is
    # ownership-by-convention, documented at the definition site
    assert isinstance(fx._PINS, list) and isinstance(fx._CHECKPOINTS, list)
    assert not isinstance(fx._PINS, threading.local)
    src_path = os.path.join(PKG, "functions.py")
    with open(src_path, encoding="utf-8") as fh:
        src = fh.read()
    assert "Thread-ownership contract" in src  # doc sentence present

    # behavior: one owning thread's cycle fully drains both registries
    release_pins()
    pin(spark.range(10))
    pin_checkpoint(spark.range(10))
    assert len(_PINS) == 1 and len(_CHECKPOINTS) == 1
    release_pins()
    assert not _PINS and not _CHECKPOINTS


def test_no_bare_decimal_round_outside_r2_r6():
    """Float-parity convention #4, Spark side (ADVICE r7 rfm_segments):
    any F.round with an explicit decimal-digits argument must be r2()/r6()
    in functions.py — a bare one elsewhere can emit -0.0 on a negative
    domain and trip the driver's typed value-hash."""
    hits = []
    pat = re.compile(r"F\.round\([^()]*,\s*\d")
    for dirpath, _, names in os.walk(PKG):
        for n in names:
            if not n.endswith(".py") or n == "functions.py":
                continue
            p = os.path.join(dirpath, n)
            with open(p, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if pat.search(line):
                        hits.append(f"{p}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)
