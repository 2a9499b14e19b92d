"""Physical-plan regression tests: the 100 TB posture is enforced, not
hoped for.  Every registered query must avoid cartesian products; headline
queries must show predicate pushdown and broadcast joins where promised."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR
from tests.test_reviews_pipeline import reviews_dir  # noqa: F401 (fixture)

QUERIES = entry_mod.queries()


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product(spark, name):
    assert "CartesianProduct" not in _plan(spark, name)


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan)


def test_q6_all_filters_pushed(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert re.search(r"PushedFilters:.*l_shipdate", plan)
    assert re.search(r"PushedFilters:.*l_discount", plan)
    assert re.search(r"PushedFilters:.*l_quantity", plan)


def test_q3_broadcasts_dimensions(spark):
    assert _plan(spark, "q3_shipping_priority").count("BroadcastHashJoin") >= 2


def test_q5_six_way_join_no_shuffle_on_dims(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    # orders x lineitem may shuffle; all four dims must broadcast
    assert plan.count("BroadcastHashJoin") >= 4


def test_asof_join_is_window_not_join(spark):
    # the as-of join compiles to union + window: no join operator at all
    plan = _plan(spark, "asof_click_attribution")
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", "X")
    assert "Window" in plan


def test_scan_prunes_columns(spark):
    # token_count needs only doc_id + text: the parquet ReadSchema must not
    # include the other document columns
    plan = _plan(spark, "token_count")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema found"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "text" in cols
    assert "meta" not in cols and "lang" not in cols or len(cols) <= 3


def test_q19_disjunction_pushed_to_both_scans(spark):
    # the OR of three (brand,size,qty) conjunctions must decompose into
    # pushable per-table residuals on BOTH the fact and the dim scan
    plan = _plan(spark, "q19_discounted_revenue")
    assert re.search(r"PushedFilters:.*Or\(.*l_quantity", plan)
    assert re.search(r"PushedFilters:.*Or\(.*p_brand,Brand#", plan)


def test_q15_date_range_pushed(spark):
    plan = _plan(spark, "q15_top_supplier")
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan)
    assert re.search(r"PushedFilters:.*LessThan\(l_shipdate", plan)


def test_tpch_dim_joins_broadcast(spark):
    # every dimension join in the new sweep must be broadcast, never a
    # shuffled join of a tiny table
    for name in ("q2_min_cost_supplier", "q9_product_profit", "q19_discounted_revenue"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name


def test_minhash_lsh_reuses_shuffles_at_scale_shape(spark):
    # with broadcast off (the big-data shape: every join is shuffled), the
    # whole LSH diamond must collapse onto ONE documents scan via exchange
    # reuse — signature/shingle subtrees are never recomputed.  At toy scale
    # AQE broadcasts tiny sides instead, which re-evaluates cheap subtrees;
    # that is the right trade there and irrelevant at 100 TB.
    from bigdataanalytics_textsummarization_spark.extensions import dedup as D
    from bigdataanalytics_textsummarization_spark.functions import (
        release_pins,
    )

    # r11: if an earlier test materialized the shared _lsh_pairs leaf,
    # Spark's cache manager substitutes the cached pair table into this
    # semantically-equal plan (the feature the leaf exists for) — clear
    # the pin scope so the assertion sees the RAW diamond it certifies
    release_pins()
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = D.dedup_minhash_lsh(spark, SF_DIR)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1
        assert plan.count("ReusedExchange") >= 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_bloom_runtime_filter_injects_at_scale_shape(spark):
    """At 100 TB a selective dim filter must reach the fact scan as a bloom
    runtime filter.  The default application-side threshold (10 GB scan)
    correctly suppresses it at toy scale, so the scale posture is audited
    with the threshold dropped and broadcast disabled (shuffle-join shape —
    broadcast joins don't need the bloom)."""
    from pyspark.sql import functions as F

    from bigdataanalytics_textsummarization_spark.io import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR, "lineitem")
        supp = load_table(spark, SF_DIR, "supplier").filter(
            F.col("s_acctbal") > 9000
        )
        j = (
            li.join(supp, li.l_suppkey == supp.s_suppkey)
            .groupBy("s_name")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert "bloomfilter" in _formatted(spark, j).lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Star-schema DPP: fact partitioned on the join key, dim filtered on a
    NON-key column — the partition list is only knowable at runtime, so the
    scan must carry a dynamicpruningexpression (at 100 TB this is the
    difference between scanning one partition and scanning the table)."""
    from pyspark.sql import functions as F

    from bigdataanalytics_textsummarization_spark.io import (
        load_table,
        write_partitioned,
    )

    path = str(tmp_path / "orders_by_priority")
    write_partitioned(
        load_table(spark, SF_DIR, "orders"), path, "o_orderpriority"
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        ["pr", "klass"],
    ).filter(F.col("klass") == "hot")
    j = fact.join(dim, fact.o_orderpriority == dim.pr).groupBy("klass").count()
    assert "dynamicpruningexpression" in _formatted(spark, j).lower()


def test_sales_pivot_is_single_pass(spark):
    # explicit pivot values => no distinct-discovery pre-job; the pivot is
    # two chained aggregations (cell sums, then pivotfirst) over ever-
    # smaller data, with the first one map-side partial before its shuffle
    plan = _plan(spark, "sales_pivot")
    # formatted output names each node twice (tree + detail): 1 scan = 2 hits
    assert plan.count("Scan parquet") == 2
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 4
    assert "partial_sum" in plan  # map-side combine feeds the first shuffle


def test_view_click_pairs_joins_on_user_equi_key(spark):
    # the interval predicate must ride an equi-join on user_id — a pure
    # range theta-join would plan BroadcastNestedLoopJoin and blow up at scale
    plan = _plan(spark, "view_click_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_hygiene_ops_are_zero_shuffle_projections(spark):
    """doc_repetition and pii_scrub promise pure projections over the scan
    — no Exchange may appear (the repartition widening of tiny local
    files excepted: assert no *hash/range* partitioning)."""
    for name in ("doc_repetition", "pii_scrub", "gopher_rules"):
        plan = _plan(spark, name)
        assert "hashpartitioning" not in plan, name
        assert "rangepartitioning" not in plan, name
        assert "SortAggregate" not in plan and "HashAggregate" not in plan, name


def test_topk_ngrams_single_aggregate_shuffle(spark):
    """One gram-key aggregation (with map-side partial) feeding the top-k
    window; no second hash shuffle of the raw token stream."""
    plan = _plan(spark, "topk_ngrams")
    assert plan.count("hashpartitioning(gram") <= 1
    # partial + final aggregate pair present (combiner-friendly shape)
    assert plan.count("HashAggregate") >= 2


def test_source_mixture_single_scan(spark):
    """The corpus is read once — at leaf build — and the scalar
    normalizers are 1-row aggregates broadcast back over the leafed
    O(sources) frame (r13, the eede4da DSIR pattern): the final plan
    carries NO file scan (the leaf is a LogicalRDD), no unpartitioned
    window, and the only nested-loop joins are the 1-row broadcast
    totals."""
    plan = _plan(spark, "source_mixture")
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "Scan ExistingRDD" in plan  # the materialized leaf
    assert "CartesianProduct" not in plan
    # the eede4da pattern: scalar totals arrive as 1-row broadcasts, not
    # as WindowExec with no partition spec
    assert "Window" not in plan


def test_substring_dedup_no_pairwise_stage(spark):
    """Candidate generation is gram-key aggregation + semi-ish join back;
    there must be no join without an equi-key (no nested-loop/cartesian)
    and the gram aggregate must be combiner-friendly."""
    plan = _plan(spark, "substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "hashpartitioning(gram" in plan


def test_doc_perplexity_word_keyed_shuffles(spark):
    """Every aggregation shuffle is keyed on words (vocabulary-bounded),
    except the final per-doc rollup; the per-doc bigram base is persisted
    so the corpus is tokenized once (InMemoryRelation present)."""
    plan = _plan(spark, "doc_perplexity")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan


def test_clf_ingest_is_zero_shuffle_projection(spark):
    """The ingest classifier gate reduces inside the row (HOF aggregate),
    so the plan must contain no exchange and no aggregation at all —
    that's what makes it append-mode stream-legal."""
    plan = _plan(spark, "clf_ingest")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_classifier_score_single_doc_keyed_shuffle(spark):
    """Batch classifier scoring is explode -> projection -> ONE doc-keyed
    aggregation shuffle (hash/weight computed per row, no dictionary or
    model join)."""
    plan = _plan(spark, "classifier_score")
    assert plan.count("hashpartitioning(doc_id") == 1
    assert plan.count("hashpartitioning") == 1


def test_shard_shuffle_is_hash_order_not_global_sort(spark):
    """Training-order shuffle must be one hash shuffle on the shard id +
    per-shard local sort; a global orderBy would plan rangepartitioning."""
    plan = _plan(spark, "shard_shuffle")
    assert plan.count("hashpartitioning(shard") == 1
    assert plan.count("hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_snapshot_diff_joins_prehashed_keys(spark):
    """The CDC diff is a single key-keyed full-outer join over pre-hashed
    rows: both sides shuffle on doc_id only, and the document payload is
    reduced to md5 below the exchanges (no text column crosses a shuffle:
    the exchanges' input is the hash projection)."""
    plan = _plan(spark, "snapshot_diff")
    assert "FullOuter" in plan
    assert plan.count("hashpartitioning(doc_id") == 2
    assert plan.count("hashpartitioning") == 2
    # md5 evaluated in the pre-shuffle project, once per side
    assert plan.count("md5") >= 2


def test_cohort_and_timeseries_shuffle_on_user_keys_only(spark):
    """Both event-timeline operators promise shuffles keyed on the
    already-reduced user grids — never a range shuffle, never a raw-event
    self-join without an equi-key."""
    for name in ("cohort_retention", "timeseries_fill"):
        plan = _plan(spark, name)
        assert "rangepartitioning" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_doc_chunks_is_map_only(spark):
    """Chunking is a pure projection: sequence+explode+slice over the
    once-split token array — no data-keyed shuffle at any scale.  (The
    only Exchange allowed is load_table's round-robin scan widening,
    which is a documented no-op on real-scale inputs.)"""
    plan = _plan(spark, "doc_chunks")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    # one Exchange node = two mentions in formatted explain (tree + detail)
    assert plan.count("Exchange") <= 2
    assert "RoundRobinPartitioning" in plan  # and it IS the widening


def test_bloom_semijoin_broadcasts_filter(spark):
    """The Bloom set-bit table is bounded by BLOOM_M rows regardless of
    build-side cardinality, so both the bit-membership join and the
    ground-truth join must be broadcast — never a sort-merge of facts."""
    plan = _plan(spark, "bloom_semijoin")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_embedding_quantize_broadcasts_dim_stats(spark):
    """Per-dimension min/max is n_dims rows — must ride a broadcast, and
    the only O(corpus) shuffle is the per-vector regroup."""
    plan = _plan(spark, "embedding_quantize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_broadcasts_query_relation(spark):
    """Query terms, df, and the 1-row scalar aggregate all broadcast; the
    corpus-side token aggregate is the only fact-sized shuffle input."""
    plan = _plan(spark, "bm25_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_domain_caps_single_domain_shuffle(spark):
    """The cap is ONE shuffle on the domain key feeding the rank window —
    no join, no extra exchange of the corpus."""
    plan = _plan(spark, "domain_caps")
    assert plan.count("hashpartitioning(source") == 1
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_benchmark_decontam_blocks_on_shingle_key(spark):
    """Candidates come from the shared-shingle equi-join — never a
    pairwise document stage."""
    plan = _plan(spark, "benchmark_decontam")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_decode_is_map_only(spark):
    """Synthesis folds into the scan projection and the decode is a
    partition-preserving mapInPandas: zero shuffles of any kind."""
    plan = _plan(spark, "multimodal_decode")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_aqe_skew_join_splits_hot_key(spark):
    """PLANS.md leans on 'AQE skew-split handles hot keys' for the
    un-salted join posture — prove AQE actually fires: a 75%-hot-key
    shuffle join under test-scale thresholds must execute with
    ShuffledHashJoin(skew=true) reading a skew-split AQEShuffleRead."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        big = spark.range(200_000).select(
            F.when(F.col("id") < 150_000, F.lit(0))
            .otherwise(F.col("id") % 8)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        j = big.join(dim.hint("shuffle_hash"), "k")
        assert len(j.collect()) == 200_000  # result unchanged by the split
        plan = str(j._jdf.queryExecution().executedPlan())
        assert "skew=true" in plan, "AQE skew-join did not fire"
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_graduated_media_ops_are_map_only(spark):
    """The r9 real-decode media ops are embarrassingly parallel payload
    transforms: synth (pure Catalyst expressions over the scan) ->
    mapInPandas decode — no data-keyed shuffle at any scale.  The only
    Exchange allowed is load_table's round-robin scan widening."""
    for name in ("image_resize", "frame_sample", "audio_resample",
                 "multimodal_decode", "wav_decode"):
        plan = _plan(spark, name)
        assert "hashpartitioning" not in plan, name
        assert "rangepartitioning" not in plan, name
        assert plan.count("Exchange") <= 2, name


def test_corpus_diversity_single_corpus_scan(spark):
    """All three n-gram sizes ride ONE documents scan (r11: per-n explode,
    O(tokens) per row) — the plan must not tokenize the corpus per n.
    (simple mode: formatted prints every node twice — tree + detail.)"""
    for name in ("corpus_diversity", "corpus_diversity_sketch"):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert plan.count("FileScan parquet") == 1, name


def test_token_mixture_and_vocab_growth_scan_once_via_leaf(spark):
    """Both curve queries share a diamond base (quota/rank branches;
    token-total/first-seen branches) that is an owned leaf: the consumer
    plan reads the materialized leaf (ExistingRDD), never a second
    parquet scan of the text."""
    for name in ("token_budget_mixture", "vocab_growth"):
        plan = _plan(spark, name)
        assert "ExistingRDD" in plan, name
        assert plan.count("Scan parquet") == 0, name


def test_token_budget_mixture_salted_bounded_reducers(spark):
    """The two-phase prefix twin must rank/prefix-sum under a window
    keyed on (source, rng) — every reducer bounded at ~1/N_PREFIX_RANGES
    of a source — with the per-source-only windows confined to the
    O(sources x ranges) offset/quota frames, and both broadcast back."""
    import re

    plan = _plan(spark, "token_budget_mixture_salted")
    assert re.search(r"hashpartitioning\(source[^)]*rng", plan), (
        "phase-1 window not keyed on (source, rng)"
    )
    assert plan.count("BroadcastExchange") >= 2  # offsets + quotas


def test_dsir_scans_corpus_once_via_leaf(spark):
    """The DSIR pipeline's three consumers (target LM, source LM,
    per-doc scoring) all ride the single leafed doc-bucket aggregate:
    the consumer plan reads the materialized leaf, never a second
    parquet scan of the text; the O(B) LM table broadcasts."""
    for name in ("dsir_weights", "dsir_sample"):
        plan = _plan(spark, name)
        assert "ExistingRDD" in plan, name
        assert plan.count("Scan parquet") == 0, name
        assert "BroadcastExchange" in plan, name


def test_semantic_decontam_bucketed_equijoin(spark):
    """Candidates come from the sign-LSH bucket equi-join (never
    all-pairs): the train x benchmark join is an equi-join — broadcast
    of the small benchmark side at this scale (the deployment plan the
    docstring promises), shuffled on bucket when nothing fits — with no
    nested-loop fallback anywhere in the plan."""
    plan = _plan(spark, "semantic_decontam")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoop" not in plan


def test_video_near_dups_rides_one_leaf(spark):
    """The per-frame hash table is a leafed LogicalRDD consumed by both
    the banded candidate join and the join-back scoring — the Arrow
    decode runs once, and the final plan carries no file scan at all."""
    plan = _plan(spark, "video_near_dups")
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "Scan ExistingRDD" in plan


def test_trimodal_audit_two_full_outer_joins(spark):
    """The agreement matrix is exactly two pair-keyed full-outer joins
    over candidate-bounded inputs — no new pairwise stage."""
    plan = _plan(spark, "trimodal_dedup_audit")
    # one "Join type:" detail block per join node in formatted explain
    assert plan.count("Join type: FullOuter") == 2


def test_r14_trio_plan_shapes(spark):
    """Plan pins for the late-r14 queries: no cartesian products beyond
    the deliberate 1-row scalar broadcasts, no unpartitioned windows, and
    the tuning sweep's signature/truth leaves materialize once."""
    # the layout sweep: every join is equi-keyed (band keys / pair keys);
    # the only nested-loop is the 1-row n_truth broadcast per layout
    plan = _plan(spark, "minhash_band_tuning")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "InMemoryTableScan" in plan  # pinned signature/truth reuse
    # hard negatives: broadcast anchors, per-anchor window (partitioned)
    plan = _plan(spark, "hard_negative_mining")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" in plan  # label != label — deliberate,
    # bounded by the broadcast anchor set (the ann_cosine_topk shape)
    # ccnet terciles: sketch cutpoints broadcast back — no window at all
    plan = _plan(spark, "ccnet_buckets")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # the C4 transform (r17 shape): ONE corpus explode — the corpus
    # stats are window aggregates over the key-partitioned exchange
    # instead of a groupBy re-derivation joined back (which exploded
    # the corpus twice) — then the doc_id shuffle; reassembly is
    # array_sort inside the aggregate
    plan = _plan(spark, "boilerplate_strip")
    assert plan.count("Generate (") == 1
    assert "Window" in plan  # partitioned by the sentence-hash key
    # the Window operator itself must be partitioned by the key column —
    # assert on each numbered "(N) Window" detail block, whose Arguments
    # line carries the partition spec (a bare `"key#" in plan` would be
    # vacuous: the key appears in projections anyway)
    blocks = re.findall(r"^\(\d+\) Window\n(.*?)(?:\n\n|\Z)", plan, re.M | re.S)
    assert blocks and all("windowspecdefinition(key#" in b for b in blocks)
    assert "CartesianProduct" not in plan
    # the vector ingest gate: one equi-join on the bucket key, stream-
    # legal (no aggregation, no window)
    plan = _plan(spark, "embedding_ingest")
    assert "Window" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "CartesianProduct" not in plan


def test_doc_repetition_strip_zero_shuffle(spark):
    """The within-doc trim is document-LOCAL: the plan must be a pure
    projection over the parquet scan — no key-partitioned exchange, no
    aggregate, no join anywhere (load_table's round-robin spread of the
    single test parquet file is the one allowed Exchange), and column
    pruning down to (doc_id, text)."""
    plan = _plan(spark, "doc_repetition_strip")
    assert "HashPartitioning" not in plan and "RangePartitioning" not in plan
    assert "HashAggregate" not in plan and "Join" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_bleu_single_pair_join_shuffle(spark):
    """Per-pair BLEU's only shuffle is the small candidate/reference pair
    equi-join (the rouge_n shape): no aggregation exchange, no explode —
    the metric itself is the Arrow map stage."""
    plan = _plan(spark, "bleu_pairs")
    assert "Generate" not in plan  # no explode anywhere
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    # the pair join may sort-merge (two exchanges, one per side, or
    # broadcast with none) — but there must be no exchange AFTER the
    # Arrow kernel: everything downstream of mapInPandas is row-local
    after = plan.split("ArrowEvalPython")[-1] if "ArrowEvalPython" in plan else plan.split("MapInPandas")[-1]
    assert "Exchange" not in after


def test_gleu_and_su4_single_pair_join_shuffle(spark):
    """GLEU and ROUGE-SU4 keep the bleu_pairs shape: no explode, and no
    exchange after the Arrow kernel — the pooled sums / P-R-F staging
    are row-local projections over the kernel's integer columns."""
    for name in ("gleu_pairs", "rouge_su4"):
        plan = _plan(spark, name)
        assert "Generate" not in plan, name
        after = (
            plan.split("ArrowEvalPython")[-1]
            if "ArrowEvalPython" in plan
            else plan.split("MapInPandas")[-1]
        )
        assert "Exchange" not in after, name


def test_self_bleu_ring_equi_joins_only(spark):
    """Self-BLEU's references arrive through K=3 ring EQUI-joins on the
    pmod key (plus the broadcast 1-row count) — no cartesian product,
    no explode, and nothing shuffles after the multi-reference Arrow
    kernel."""
    plan = _plan(spark, "self_bleu_docs")
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan
    after = plan.split("MapInPandas")[-1]
    assert "Exchange" not in after


def test_tokenizer_construction_stays_off_py4j(spark):
    """Building a WordNet-lemma token stream must not cost one Py4J round
    trip per stopword or exception literal: the stopword list and the
    exception map are each parsed from one SQL literal."""
    import py4j.clientserver as cs

    from bigdataanalytics_textsummarization_spark.functions import lemma_wordnet
    from bigdataanalytics_textsummarization_spark.text import tokens_textrank_from

    sent = spark.createDataFrame(
        [("d_0", "d", 0, "some words here", "s")],
        "sentence_id string, doc_id string, pos long, sentence string, source string",
    )
    calls = [0]
    orig = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return orig(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        tokens_textrank_from(sent, lemma=lemma_wordnet)
    finally:
        cs.ClientServerConnection.send_command = orig
    # ~700; one F.lit per stopword and map entry made it ~2,500
    assert calls[0] < 1200, calls[0]


def test_session_codegen_cache_holds_a_review_pass(spark):
    # a cold review summarization pass compiles ~80 whole-stage classes
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000


def test_review_rouge_sweep_tokenizes_once_per_summarizer(spark, reviews_dir):  # noqa: F811
    """The paper's headline review job, scored end to end: its final
    adaptive plan runs one scan + tokenize pipeline per summarizer (LSA's
    kernel computes its TF-IDF from the token stream it is given) and
    caches nothing."""
    from bigdataanalytics_textsummarization_spark.functions import release_pins
    from bigdataanalytics_textsummarization_spark.reviews import review_rouge_sweep

    df = review_rouge_sweep(spark, reviews_dir)
    try:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        release_pins()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "InMemoryRelation" not in final
    assert final.count("explode(regexp_extract_all") == 2
