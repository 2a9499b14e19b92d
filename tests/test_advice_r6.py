"""Pins for the round-6 ADVICE fixes (one test per item).

1. tar-shard name round trip for extension-less / trailing-dot members
   (io.py build_tar_shards minted "stem." unconditionally),
2. ann_recall_sweep fails LOUDLY on an under-celled corpus instead of
   silently clamping below its fixed-row oracle,
3. knn_graph_recall returns a clean boolean verdict on a degenerate
   0/1-vector corpus (was NULL from 0/0),
4. the LSA dispatch memo invalidates when the dataset is rewritten
   (was keyed on (sf_dir, max_cells) only — stale routing forever),
5. check_recert baselines against the commit that INTRODUCED each round
   artifact, so a post-hoc refresh commit cannot silently re-baseline.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest


def _write_embeddings(path: str, n: int, dims: int = 8) -> None:
    """Tiny embeddings.parquet with the real table shape/types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [
        [float((i * 31 + j * 7) % 13) - 6.0 for j in range(dims)]
        for i in range(n)
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(n)], type=pa.int32()),
        }
    )
    pq.write_table(tbl, path)


def test_tar_extensionless_and_trailing_dot_members_roundtrip(spark, tmp_path):
    from bigdataanalytics_textsummarization_spark.io import (
        build_tar_shards,
        read_tar_shards,
    )

    rows = [
        ("000001", "txt", b"with extension"),
        ("000001", "", b"no extension at all"),  # was written as "000001."
        ("LICENSE", "", b"bare name"),
        # NOTE: stems may not contain "." (WebDataset splits member
        # names at the FIRST dot); multi-dot SUFFIXES round-trip fine
        ("sample2", "json.gz", b"multi-dot suffix"),
    ]
    samples = spark.createDataFrame(
        pd.DataFrame(rows, columns=["stem", "suffix", "content"])
    )
    shards = build_tar_shards(samples, n_shards=1).toPandas()
    out_dir = tmp_path / "shards"
    out_dir.mkdir()
    for r in shards.itertuples():
        (out_dir / f"shard-{r.shard:04d}.tar").write_bytes(bytes(r.tar))
    back = read_tar_shards(spark, str(out_dir)).toPandas()
    got = {(r.stem, r.suffix): bytes(r.content) for r in back.itertuples()}
    assert got == {(s, x): c for s, x, c in rows}
    # and the member NAMES are exact — no trailing dot minted
    names = sorted(back["member"])
    assert names == sorted(
        ["000001.txt", "000001", "LICENSE", "sample2.json.gz"]
    )


def test_recall_sweep_loud_fails_on_under_celled_corpus(spark, tmp_path):
    from bigdataanalytics_textsummarization_spark.extensions.similarity import (
        SWEEP_NPROBES,
        ann_recall_sweep,
    )

    # 40 vectors -> k_eff = max(2, 40 // 16) = 2 cells < max nprobe 4
    _write_embeddings(str(tmp_path / "embeddings.parquet"), 40)
    with pytest.raises(ValueError, match="under|too small|cells"):
        ann_recall_sweep(spark, str(tmp_path))
    assert max(SWEEP_NPROBES) > 2  # the premise of the fixture


def test_knn_graph_recall_clean_verdict_on_degenerate_corpus(spark, tmp_path):
    from bigdataanalytics_textsummarization_spark.extensions.similarity import (
        knn_graph_recall,
    )

    _write_embeddings(str(tmp_path / "embeddings.parquet"), 1)
    row = knn_graph_recall(spark, str(tmp_path)).collect()[0]
    # vacuous recall over an empty truth graph: True, never NULL
    assert row["recall_ok"] is True
    assert row["n_vectors"] == 0


def test_lsa_dispatch_memo_invalidates_on_dataset_rewrite(
    spark, tmp_path_factory
):
    from bigdataanalytics_textsummarization_spark import lsa, sizegate
    from tests.conftest import write_docs

    texts = [
        "the quick brown fox jumps over the lazy dog near the river bank. "
        "a second sentence with plenty of distinct meaningful words inside.",
        "another document where summarization keywords appear repeatedly "
        "because repetition drives term frequency upward. closing thoughts "
        "mention rivers foxes dogs and summarization once more for weight.",
    ]
    d = write_docs(tmp_path_factory, "lsa_memo", texts)
    # the LSA routing of this dataset's documents table
    mine = (f"{d}/documents.parquet", "lsa")
    sizegate._DISPATCH_CACHE.clear()
    lsa.lsa_concepts_auto(spark, d).count()
    keys1 = [k for k in sizegate._DISPATCH_CACHE if k[:2] == mine]
    assert len(keys1) == 1

    # same dataset -> memo hit, no new key
    lsa.lsa_concepts_auto(spark, d).count()
    assert [k for k in sizegate._DISPATCH_CACHE if k[:2] == mine] == keys1

    # rewrite the dataset in place -> signature changes -> re-probe,
    # and the stale entry is EVICTED (memo stays bounded per dataset)
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pd.DataFrame(
        {
            "doc_id": pd.array([0], dtype="int64"),
            "text": pd.array(
                ["a completely different corpus with fresh words entirely. "
                 "its second sentence changes every token of the dataset."],
                dtype="string",
            ),
            "lang": pd.array(["en"], dtype="string"),
            "source": pd.array(["s2"], dtype="string"),
        }
    )
    docs["n_chars"] = docs["text"].astype("string").str.len().astype("int64")
    target = os.path.join(d, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), target)
    spark.catalog.clearCache()  # drop any cached scan of the old file

    lsa.lsa_concepts_auto(spark, d).count()
    keys2 = [k for k in sizegate._DISPATCH_CACHE if k[:2] == mine]
    assert len(keys2) == 1 and keys2 != keys1


def test_recert_baseline_is_the_artifact_add_commit():
    """last_green_commits must map every query to the commit that ADDED
    its newest green artifact — never a later commit that merely touched
    the file (post-hoc refreshes must not re-baseline)."""
    import subprocess
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from scripts.check_recert import REPO, last_green_commits

    def add_commit(rel: str) -> str:
        out = subprocess.run(
            ["git", "log", "--diff-filter=A", "--format=%H", "--", rel],
            cwd=REPO,
            capture_output=True,
            text=True,
        ).stdout.split()
        return out[-1] if out else ""

    greens = last_green_commits()
    assert greens, "no committed round artifacts found"
    import glob
    import json
    import re

    arts = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    allowed = {add_commit(os.path.basename(p)) for p in arts} - {""}
    assert set(greens.values()) <= allowed


def test_pin_registry_releases_storage(spark):
    """pin() persists and registers; release_pins() unpersists everything
    it owns — the ownership contract behind every cache in the package."""
    from pyspark.sql import functions as F

    from bigdataanalytics_textsummarization_spark.functions import (
        _PINS,
        pin,
        release_pins,
    )

    release_pins()  # start clean
    df = pin(spark.range(1000).select((F.col("id") % 7).alias("k")))
    assert df.count() == 1000  # materialize the cache
    assert df.storageLevel.useMemory
    assert len(_PINS) == 1
    n = release_pins()
    assert n == 1 and not _PINS
    assert not df.storageLevel.useMemory  # unpersisted
