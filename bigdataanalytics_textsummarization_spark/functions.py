"""Shared column expressions and cross-engine-deterministic helpers.

Everything here is chosen so the identical value is computable in both
Spark SQL and DuckDB (the correctness oracle):

- tokenization via ``regexp_extract_all`` + ``lower`` (reference semantics:
  ``re.findall('[a-zA-Z]+', s)`` then ``.lower()``, BigdataProjectCode.py:66/365);
- the NLTK English stopword list inlined as a constant (Spark's default
  ``StopWordsRemover`` list differs — SURVEY.md §2.2 P6);
- a light, rule-based lemmatizer (the container has no NLTK; rules are pure
  regexp so the oracle can replicate them bit-for-bit — stands in for the
  reference's WordNet noun-mode lemmatize, BigdataProjectCode.py:51/68/362);
- md5 as the only hash primitive (identical hex output in Spark and DuckDB,
  unlike murmur3 ``hash()`` which differs between engines) — the basis of the
  MinHash / SimHash / fingerprint operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Pinned-DataFrame registry: every persist()/cache() in the package has an
# OWNER (ADVICE r6 unpersist audit).  pin() persists and registers; a
# long-running session (the 165-query driver sweep, a notebook) calls
# release_pins() between queries so executor storage cannot accumulate
# across unrelated plans.  One-shot drivers (bench.py reps, a spark-submit
# job) may skip the release — process exit reclaims — which is the
# documented ownership for those paths.
# ---------------------------------------------------------------------------

# Thread-ownership contract: the registry is a plain module global, owned
# by the SINGLE thread that builds and releases queries (the driver loop,
# bench.py, pytest).  That is the documented contract — the driver harness
# is single-threaded by design — and it is asserted by the contract test
# (tests/test_advice_r7.py::test_pin_registry_single_thread_contract).
# Concurrent query builders would need their own SparkSession anyway
# (.sql conf isolation), at which point a per-session registry is the
# right shape; not needed for any in-repo path.
_PINS: list[DataFrame] = []
_CHECKPOINTS: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """persist() with an owner: registered for release_pins().

    Idempotent: pinning a frame already in the registry is a no-op, so a
    caller may pin a frame that the callee it hands it to pins again
    (ADVICE r7)."""
    if any(df is p for p in _PINS):
        return df
    df = df.persist()
    _PINS.append(df)
    return df


def pin_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``localCheckpoint`` with an owner (ADVICE r7 / VERDICT r7 task 3).

    ``df.localCheckpoint(eager=False)`` persists its internal RDD's blocks
    OUTSIDE any DataFrame cache — without an owner they are reclaimed only
    when Python GC + ContextCleaner get to the derived frame, so a long
    multi-query session accumulates untracked rank/edge checkpoint blocks.
    This registers the checkpointed frame; release_pins() unpersists the
    underlying checkpoint RDD explicitly (reaching it through the plan's
    LogicalRDD leaf)."""
    cp = df.localCheckpoint(eager=eager)
    _CHECKPOINTS.append(cp)
    return cp


def _owned_ckpt(df: DataFrame) -> DataFrame:
    """``df.transform(_owned_ckpt)``: an EAGER localCheckpoint with
    registry ownership — the fluent form for iterative loops (connected
    components, k-hop, LPA, BPE, NN-Descent) whose per-iteration
    checkpoints previously escaped the pin contract as bare
    ``.localCheckpoint()`` calls (r8 consistency pass on VERDICT r7
    task 3)."""
    return pin_checkpoint(df, eager=True)


def _retire_ckpt(cp: DataFrame) -> None:
    """Release a SUPERSEDED loop-iteration checkpoint mid-query (ADVICE
    r8).  Registering every iteration of LPA/k-hop/NN-Descent/BPE in
    _CHECKPOINTS keeps dead intermediate iterations' blocks alive until
    release_pins(), so peak block-manager footprint grew linearly with
    iteration count.  Call this on iteration i's frame once iteration
    i+1's checkpoint has MATERIALIZED (eager=True guarantees that at
    construction) — pops it from the registry and unpersists its blocks.
    Safe no-op for frames not in the registry."""
    for i, c in enumerate(_CHECKPOINTS):
        if c is cp:
            _CHECKPOINTS.pop(i)
            _unpersist_checkpoint(cp)
            return


def _unpersist_checkpoint(cp: DataFrame) -> None:
    """Unpersist the block-manager storage behind a localCheckpoint'ed
    frame.  The checkpointed plan is a single LogicalRDD leaf whose
    ``rdd`` field is the persisted internal RDD; falls back to GC +
    ContextCleaner ownership if the plan shape ever differs."""
    try:
        cp._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


# Session-scoped leaf memo: (semanticHash+conf, owning session, source
# frame, leafed frame).  Keyed by PLAN SEMANTICS, not object identity — a
# LogicalRDD leaf carries a unique RDD id, so without the memo every
# rebuild of the same query creates a fresh leaf whose canonical plan
# matches nothing, busting CacheManager reuse for every frame derived
# from it (measured: warm textrank_top5 2.4s -> 4.1s with per-build
# leaves).  The entry holds a STRONG ref to the owning SparkSession and
# matches it by identity (ADVICE r9): an id()-only key could be recycled
# by CPython after the session wrapper is GC'd, handing a new session a
# dead session's unrecomputable checkpointed leaf.  Same single-thread
# ownership contract as _PINS; release_pins() clears it (the storage the
# memo hands out is owned by the registries it fills).
_LEAVES: list[tuple[tuple, object, DataFrame, DataFrame]] = []

# Session-scoped BUILD memo for pure builder functions (sentences, token
# streams, edge tables, rank tables): building the same DataFrame twice
# re-runs every eager per-op analysis of its subtree, which dominates
# construct time for the text/graph family.  DataFrames are immutable, so
# returning the previously built object is semantically identical — and
# when the memoized frame descends from a leaf() checkpoint it is the SAME
# leaf, keeping canonical plans stable for CacheManager reuse.  MUST be
# cleared by release_pins(): a frame derived from a localCheckpoint leaf
# is unrecomputable once the checkpoint's blocks are unpersisted (local
# checkpoints truncate lineage).  Same single-thread ownership contract
# as _PINS.
_BUILDS: dict = {}


def session_memo(fn):
    """Memoize a (spark, sf_dir, ...) DataFrame builder for the lifetime
    of the current pin scope (cleared by release_pins())."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark, sf_dir, *args, **kwargs):
        key = (
            fn.__module__,
            fn.__qualname__,
            spark,
            # conf in the key for the same reason as leaf()'s: a shuffle-
            # partition change must rebuild (partition-invariance tests)
            spark.conf.get("spark.sql.shuffle.partitions"),
            sf_dir,
            args,
            tuple(sorted(kwargs.items())),
        )
        try:
            hit = _BUILDS.get(key)
        except TypeError:  # unhashable extra arg: build fresh, skip memo
            return fn(spark, sf_dir, *args, **kwargs)
        if hit is None:
            hit = _BUILDS[key] = fn(spark, sf_dir, *args, **kwargs)
        return hit

    return wrapper


def leaf(df: DataFrame) -> DataFrame:
    """pin + lazy pin_checkpoint, memoized per plan: collapse a fat
    analyzed subtree to a LogicalRDD LEAF with owned storage (r8,
    VERDICT r7 task 5).

    Spark analyzes EAGERLY per DataFrame op, so a query composed of k ops
    over a deep shared subtree re-walks that subtree k times at BUILD
    time — for the text diamond (tokenize -> self-join -> rank loop) plan
    construction was the dominant wall share (textrank_top5: 3.1s
    construct vs 1.2s exec at sf0.1, cold pins).  Checkpointing lazily
    plans the subtree ONCE (toRdd) and hands downstream composition a
    3-node tree.  NOTE: with AQE on, even a lazy localCheckpoint's
    ``execute()`` materializes the plan's shuffle stages at build time,
    so a leaf over a shuffle-bearing subtree shifts that execution into
    construction — total wall is what the leaf optimizes, via (a) one
    analysis of the fat tree instead of k, and (b) the memo: queries in
    the same session that leaf a semantically-equal base (the similarity/
    textrank family over one token stream; repeated builds of one query)
    share ONE materialized leaf instead of re-copying blocks per build.
    Values are bit-identical to the un-leafed plan: the checkpoint
    preserves partitioning and intra-partition row order, so every
    downstream fold sees the same operand order (verified bit-exact at
    sf0.01 and sf0.1, scripts/driver_sim.py).
    """
    # the memo key includes the shuffle-partition conf: a same-session
    # conf change (tests/test_partition_invariance.py re-runs each query
    # under 1/7/32 partitions) must rebuild + re-materialize the leaf
    # under the new physical layout, not hand back the old blocks.
    # It also matches the owning SparkSession BY IDENTITY on a held
    # strong ref (ADVICE r8/r9): with two sessions in one process, a
    # semantically-equal plan from session B must NOT be handed session
    # A's checkpointed blocks — A may have been stopped or released —
    # and the held ref keeps CPython from recycling a dead session's
    # id for a new session while the entry lives.
    sess = df.sparkSession
    conf = sess.conf.get("spark.sql.shuffle.partitions")
    h = (df.semanticHash(), conf)
    for hh, s, src, lf in _LEAVES:
        if hh == h and s is sess and df.sameSemantics(src):
            return lf
    lf = pin_checkpoint(pin(df))
    _LEAVES.append((h, sess, df, lf))
    return lf


def release_pins() -> int:
    """Unpersist every registered pin and checkpoint (blocking=False);
    returns the count released.

    CONTRACT: every DataFrame previously returned by :func:`pin`,
    :func:`pin_checkpoint`, :func:`leaf`, or :func:`session_memo` is DEAD
    after this call.  Local checkpoints truncate lineage, so their RDD
    storage is unrecomputable — any action on a caller-held frame derived
    from a released leaf/checkpoint fails with a missing-checkpoint-block
    error (it is not lazily rebuilt, unlike a plain unpersisted cache).
    Call this only between queries, never while holding frames you intend
    to act on; rebuild via the query entry point afterwards.
    """
    n = 0
    while _PINS:
        _PINS.pop().unpersist()
        n += 1
    while _CHECKPOINTS:
        _unpersist_checkpoint(_CHECKPOINTS.pop())
        n += 1
    _LEAVES.clear()  # memoized leaves' storage was just released above
    _BUILDS.clear()  # leaf-derived memoized frames are now unrecomputable
    return n

# NLTK English stopword list (public corpus, nltk.corpus.stopwords.words
# ('english')).  The reference loads this at BigdataProjectCode.py:36.
# Inlined so executors never need the NLTK download and so the DuckDB oracle
# can use the identical list.
STOPWORDS: tuple[str, ...] = (
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom", "this",
    "that", "that'll", "these", "those", "am", "is", "are", "was", "were",
    "be", "been", "being", "have", "has", "had", "having", "do", "does",
    "did", "doing", "a", "an", "the", "and", "but", "if", "or", "because",
    "as", "until", "while", "of", "at", "by", "for", "with", "about",
    "against", "between", "into", "through", "during", "before", "after",
    "above", "below", "to", "from", "up", "down", "in", "out", "on", "off",
    "over", "under", "again", "further", "then", "once", "here", "there",
    "when", "where", "why", "how", "all", "any", "both", "each", "few",
    "more", "most", "other", "some", "such", "no", "nor", "not", "only",
    "own", "same", "so", "than", "too", "very", "s", "t", "can", "will",
    "just", "don", "don't", "should", "should've", "now", "d", "ll", "m",
    "o", "re", "ve", "y", "ain", "aren", "aren't", "couldn", "couldn't",
    "didn", "didn't", "doesn", "doesn't", "hadn", "hadn't", "hasn",
    "hasn't", "haven", "haven't", "isn", "isn't", "ma", "mightn",
    "mightn't", "mustn", "mustn't", "needn", "needn't", "shan", "shan't",
    "shouldn", "shouldn't", "wasn", "wasn't", "weren", "weren't", "won",
    "won't", "wouldn", "wouldn't",
)


def sql_literal(v: str | int, spark_sql: bool = False) -> str:
    """One SQL literal: strings quoted with ``''`` doubling, which Spark SQL
    and DuckDB both read as a quote.  ``spark_sql=True`` also doubles
    backslashes, which Spark SQL (not DuckDB) reads as escapes."""
    if not isinstance(v, str):
        return str(v)
    if spark_sql:
        v = v.replace("\\", "\\\\")
    return "'" + v.replace("'", "''") + "'"


def sql_string_list(values: tuple[str, ...] | list[str]) -> str:
    """Render a list of strings as a SQL ``('a','b',...)`` literal."""
    return "(" + ", ".join(sql_literal(v) for v in values) + ")"


def sql_values(rows, spark_sql: bool = False) -> str:
    """Render rows as the body of a SQL ``VALUES`` list, ``(1, 'a'), ...``:
    one renderer for a Spark query and its DuckDB oracle."""
    return ", ".join(
        "(" + ", ".join(sql_literal(v, spark_sql) for v in row) + ")"
        for row in rows
    )


STOPWORDS_SQL = sql_string_list(STOPWORDS)


def alpha_tokens(col: Column) -> Column:
    """``re.findall('[a-zA-Z]+', s)`` then lowercase each token (F4+F5)."""
    return F.transform(
        F.expr(f"regexp_extract_all({col._jc.toString()}, '[A-Za-z]+', 0)"),
        lambda w: F.lower(w),
    )


def alpha_tokens_expr(colname: str) -> Column:
    """Same as :func:`alpha_tokens` but from a column name (avoids _jc)."""
    return F.expr(
        f"transform(regexp_extract_all({colname}, '[A-Za-z]+', 0), w -> lower(w))"
    )


# --- light lemmatizer ------------------------------------------------------
# Deterministic suffix rules approximating WordNet noun-mode lemmatization
# for regular plurals.  First matching rule wins; identical CASE logic is
# emitted for the DuckDB oracle by lemma_sql().
def lemma_light(col: Column) -> Column:
    return (
        F.when(
            col.rlike("ies$") & (F.length(col) > 4),
            F.regexp_replace(col, "ies$", "y"),
        )
        .when(col.rlike("sses$"), F.regexp_replace(col, "sses$", "ss"))
        .when(
            col.rlike("[^su]s$") & (F.length(col) > 3),
            F.regexp_replace(col, "s$", ""),
        )
        .otherwise(col)
    )


def lemma_sql(expr: str) -> str:
    """DuckDB CASE expression computing exactly lemma_light(expr)."""
    return (
        "(CASE "
        f"WHEN regexp_matches({expr}, 'ies$') AND length({expr}) > 4 "
        f"THEN regexp_replace({expr}, 'ies$', 'y') "
        f"WHEN regexp_matches({expr}, 'sses$') "
        f"THEN regexp_replace({expr}, 'sses$', 'ss') "
        f"WHEN regexp_matches({expr}, '[^su]s$') AND length({expr}) > 3 "
        f"THEN regexp_replace({expr}, 's$', '') "
        f"ELSE {expr} END)"
    )


# --- WordNet-parity noun lemmatizer (F6) -----------------------------------
# The reference lemmatizes with NLTK's WordNetLemmatizer().lemmatize(w)
# (BigdataProjectCode.py:51/68/362/366), i.e. WordNet morphy in noun mode:
# exception-list lookup, then ordered suffix-detachment rules, with
# candidates validated against the WordNet lemma index.  The container has
# no WordNet data, so this reproduces: (a) the common irregulars from the
# public noun.exc list, and (b) the published noun detachment rules
# ("s"->"", "ses"->"s", "xes"->"x", "zes"->"z", "ches"->"ch", "shes"->"sh",
# "men"->"man", "ies"->"y"), with the index-membership check replaced by a
# sibilant-aware rule order (boxes->box, classes->class, houses->house).
# Divergences from full WordNet are only possible for words whose correct
# base is neither rule-derivable nor in the exception subset.
_NOUN_EXC = {
    # -en / vowel-change irregulars
    "children": "child", "oxen": "ox", "brethren": "brother",
    "men": "man", "women": "woman",
    "feet": "foot", "teeth": "tooth", "geese": "goose", "mice": "mouse",
    "lice": "louse", "dice": "die", "pence": "penny",
    # -a Greek/Latin neuter plurals
    "criteria": "criterion", "phenomena": "phenomenon", "data": "datum",
    "bacteria": "bacterium", "curricula": "curriculum", "media": "medium",
    "memoranda": "memorandum", "millennia": "millennium",
    "spectra": "spectrum", "strata": "stratum", "symposia": "symposium",
    "addenda": "addendum", "errata": "erratum", "genera": "genus",
    "corpora": "corpus", "quanta": "quantum", "maxima": "maximum",
    "minima": "minimum", "optima": "optimum", "desiderata": "desideratum",
    # -i Latin plurals
    "alumni": "alumnus", "fungi": "fungus", "nuclei": "nucleus",
    "radii": "radius", "stimuli": "stimulus", "syllabi": "syllabus",
    "cacti": "cactus", "foci": "focus", "loci": "locus",
    "termini": "terminus",
    # -ices
    "indices": "index", "appendices": "appendix", "matrices": "matrix",
    "vertices": "vertex", "vortices": "vortex", "apices": "apex",
    "codices": "codex", "helices": "helix",
    # -es Greek -is plurals
    "analyses": "analysis", "bases": "basis", "crises": "crisis",
    "theses": "thesis", "hypotheses": "hypothesis", "axes": "ax",
    "diagnoses": "diagnosis", "oases": "oasis", "ellipses": "ellipse",
    "parentheses": "parenthesis", "synopses": "synopsis",
    "emphases": "emphasis", "neuroses": "neurosis", "psychoses": "psychosis",
    "prognoses": "prognosis", "syntheses": "synthesis",
    # -ves plurals (noun.exc, not rule-derivable)
    "calves": "calf", "elves": "elf", "halves": "half", "hooves": "hoof",
    "knives": "knife", "leaves": "leaf", "lives": "life", "loaves": "loaf",
    "scarves": "scarf", "selves": "self", "sheaves": "sheaf",
    "shelves": "shelf", "thieves": "thief", "wives": "wife",
    "wolves": "wolf", "dwarves": "dwarf", "wharves": "wharf",
    # -oes and other index-dependent cases
    "potatoes": "potato", "tomatoes": "tomato", "heroes": "hero",
    "echoes": "echo", "torpedoes": "torpedo", "vetoes": "veto",
    "mosquitoes": "mosquito", "volcanoes": "volcano", "buses": "bus",
    "busses": "bus", "gases": "gas", "gasses": "gas", "lenses": "lens",
    "atlases": "atlas", "aliases": "alias", "biases": "bias",
    "canvases": "canvas", "censuses": "census", "viruses": "virus",
    "bonuses": "bonus", "campuses": "campus", "choruses": "chorus",
    "circuses": "circus", "statuses": "status", "surpluses": "surplus",
    # identity entries: the men->man rule must not fire
    "amen": "amen", "omen": "omen", "semen": "semen", "lumen": "lumen",
    "abdomen": "abdomen", "acumen": "acumen", "albumen": "albumen",
    "regimen": "regimen", "specimen": "specimen", "hymen": "hymen",
    # s-rule must not fire (singular nouns ending in vowel+s handled by
    # the us/ss guards; these end otherwise)
    "series": "series", "species": "species", "news": "news",
    "physics": "physics", "mathematics": "mathematics",
    "economics": "economics", "politics": "politics",
    "analytics": "analytics", "statistics": "statistics",
    "athletics": "athletics", "ethics": "ethics", "linguistics":
    "linguistics", "measles": "measles", "diabetes": "diabetes",
    "rabies": "rabies", "molasses": "molasses", "shambles": "shambles",
}
_NOUN_EXC_MAP_SQL = "map(" + ", ".join(
    sql_literal(x, spark_sql=True) for kv in _NOUN_EXC.items() for x in kv
) + ")"


def lemmatize_noun(w: str) -> str:
    """Pure-Python WordNet-parity noun lemmatizer (spec for the twins)."""
    hit = _NOUN_EXC.get(w)
    if hit is not None:
        return hit
    if w.endswith("ies") and len(w) > 4:
        return w[:-3] + "y"
    if w.endswith(("ches", "shes", "sses", "xes", "zes")):
        return w[:-2]
    if w.endswith("men") and len(w) > 3:
        return w[:-3] + "man"
    if w.endswith("ses"):
        return w[:-1]
    if (
        w.endswith("s")
        and not w.endswith(("ss", "us", "is"))
        and len(w) > 3
    ):
        return w[:-1]
    return w


def lemma_wordnet(col: Column) -> Column:
    """WordNet-parity lemmatizer as a pure Catalyst expression.

    Exceptions resolve through a broadcast map literal, rules through a
    CASE chain — all JVM-side (SURVEY §2.7 F6 sketched a pandas_udf; an
    expression does the same work with no Python worker round-trip).
    The map is parsed from one SQL literal: a ``create_map`` of per-key
    ``F.lit`` columns cost ~1,000 Py4J round trips per call.
    """
    exc = F.expr(_NOUN_EXC_MAP_SQL)
    rules = (
        F.when(
            col.rlike("ies$") & (F.length(col) > 4),
            F.regexp_replace(col, "ies$", "y"),
        )
        .when(
            col.rlike("(ches|shes|sses|xes|zes)$"),
            F.substring(col, F.lit(1), F.length(col) - 2),
        )
        .when(
            col.rlike("men$") & (F.length(col) > 3),
            F.concat(
                F.substring(col, F.lit(1), F.length(col) - 3), F.lit("man")
            ),
        )
        .when(
            col.rlike("ses$"),
            F.substring(col, F.lit(1), F.length(col) - 1),
        )
        .when(
            col.rlike("[^su]s$") & ~col.rlike("is$") & (F.length(col) > 3),
            F.substring(col, F.lit(1), F.length(col) - 1),
        )
        .otherwise(col)
    )
    return F.coalesce(F.element_at(exc, col), rules)


def lemma_wordnet_sql(expr: str) -> str:
    """DuckDB expression computing exactly lemma_wordnet(expr)."""
    exc_whens = " ".join(
        f"WHEN {expr} = '{k}' THEN '{v}'" for k, v in _NOUN_EXC.items()
    )
    return (
        f"(CASE {exc_whens} "
        f"WHEN regexp_matches({expr}, 'ies$') AND length({expr}) > 4 "
        f"THEN regexp_replace({expr}, 'ies$', 'y') "
        f"WHEN regexp_matches({expr}, '(ches|shes|sses|xes|zes)$') "
        f"THEN substr({expr}, 1, length({expr}) - 2) "
        f"WHEN regexp_matches({expr}, 'men$') AND length({expr}) > 3 "
        f"THEN substr({expr}, 1, length({expr}) - 3) || 'man' "
        f"WHEN regexp_matches({expr}, 'ses$') "
        f"THEN substr({expr}, 1, length({expr}) - 1) "
        f"WHEN regexp_matches({expr}, '[^su]s$') "
        f"AND NOT regexp_matches({expr}, 'is$') AND length({expr}) > 3 "
        f"THEN substr({expr}, 1, length({expr}) - 1) "
        f"ELSE {expr} END)"
    )


def r6(col: Column) -> Column:
    """Round a double to 6 dp — the cross-engine float-compare contract.

    Float-parity convention #4 (COVERAGE.md): the ``+ 0.0`` normalizes
    IEEE negative zero.  A tiny negative that rounds to zero keeps its
    sign bit in DuckDB (``round(-1e-9, 6)`` -> -0.0) but not in Spark
    (-> +0.0); the values compare equal yet hash differently under the
    driver's typed value-hash (the exact embedding_cov red row of rounds
    5-6).  ``x + 0.0`` maps -0.0 -> +0.0 and is the identity on every
    other double (incl. NULL/NaN/inf), so both engines add the same
    guard: here and as ``round(expr, 6) + 0.0`` in every DuckDB oracle.
    """
    return F.round(col.cast("double"), 6) + F.lit(0.0)


def r2(col: Column) -> Column:
    """Round money-scale aggregates to 2 dp (same -0.0 guard as r6)."""
    return F.round(col.cast("double"), 2) + F.lit(0.0)


def sum2dp(col: Column) -> Column:
    """Order-independent exact sum of a 2-decimal column.

    Summing doubles is order-dependent (partial aggregation merges differ
    between engines and runs), which lands on rounding boundaries at scale
    — observed as 6th-decimal mismatches at sf0.1.  Summing integer cents
    is exact in both Spark and DuckDB (< 2^53), and the single final
    division is deterministic.  SQL twin: ``SUM2DP_SQL``.
    """
    return F.sum(F.round(col * 100).cast("long")) / F.lit(100.0)


def sum2dp_sql(expr: str) -> str:
    return f"(sum(cast(round({expr} * 100) AS bigint)) / 100.0)"


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, JVM-side (no UDF).

    ``zip_with`` + ``aggregate`` stays inside codegen; accumulation is
    left-to-right, matching DuckDB's list_dot_product order so rounded
    values agree.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def split_bucket() -> Column:
    """doc_id -> deterministic bucket 0..99: THE train/valid/test split
    contract (first md5 byte mod 100; < 80 train, < 90 valid, else
    test).  Single-sourced on purpose — train_test_split,
    contamination_check, stupid_backoff, vocab_kl_drift, and the
    curation chain must all agree on which documents are 'train', so a
    change to the salt, prefix width, or modulus edited here reaches
    every operator (and its paired oracle via SPLIT_BUCKET_SQL) at
    once."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
        ).cast("long")
        % 100
    )


# the same expression for DuckDB oracles (ubigint hop: no conv() there)
SPLIT_BUCKET_SQL = (
    "cast(cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 2)) "
    "AS ubigint) AS bigint) % 100"
)
