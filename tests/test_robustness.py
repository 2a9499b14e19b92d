"""Degenerate-input robustness: empty corpora and convergence options must
not crash any pipeline (a 100 TB job will hit empty partitions/corpora)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdataanalytics_textsummarization_spark import lsa, pagerank, text
from bigdataanalytics_textsummarization_spark.graph import edges_from
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def empty_sentences(spark):
    return text.sentences(spark, SF_DIR).filter(F.lit(False))


def test_tokenizers_on_empty(empty_sentences):
    assert text.tokens_lsa_from(empty_sentences).count() == 0
    assert text.tokens_textrank_from(empty_sentences).count() == 0


def test_graph_and_pagerank_on_empty(empty_sentences):
    edges = edges_from(text.tokens_textrank_from(empty_sentences))
    assert edges.count() == 0
    ranks = pagerank.ranks_from(edges, iterations=2)
    assert ranks.count() == 0


def test_lsa_on_empty(empty_sentences):
    tfidf = lsa.tfidf_long_from(
        text.tokens_lsa_from(empty_sentences),
        text.lsa_sentences_from(empty_sentences),
    )
    assert lsa.lsa_concepts_from(tfidf).count() == 0


def test_single_sentence_corpus(spark):
    one = text.sentences(spark, SF_DIR).limit(1)
    toks = text.tokens_textrank_from(one)
    edges = edges_from(toks)
    # one sentence => no pairs => empty graph, not a crash
    assert edges.count() == 0


def test_pagerank_convergence_stop(spark):
    """Fixed 5-step reference semantics on a symmetric 2-cycle: every
    step adds one more term of the geometric series toward the fixed
    point r = 0.15 / (1 - 0.85) = 1.0, so the closed form is exact."""
    edges = spark.createDataFrame(
        [("s", "a", "b", 1.0), ("s", "b", "a", 1.0)],
        "source string, src string, dst string, weight double",
    )
    five = pagerank.ranks_from(edges, iterations=5).toPandas()
    assert len(five) == 2
    want5 = 0.15 * sum(0.85**i for i in range(6))  # geometric partial sum
    assert abs(five["rank"] - want5).max() < 1e-9


def test_rouge_kernel_equals_relational_on_edge_cases(spark, tmp_path):
    """The Arrow kernel and the pure-expression formulation must agree on
    degenerate pairs: empty text, single word, no alphanumerics, unicode,
    repeated tokens (clipping), and candidate==reference."""
    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R
    from tests.conftest import normalize

    texts = [
        "",                              # empty candidate
        "word",                          # vs single word
        "one two three two one",         # repeats -> clipped counts
        "one two three two one",         # identical pair -> P=R=F=1
        "!!! ??? ...",                   # no alphanumeric tokens
        "naive café résumé",             # non-ascii letters
        "a b c d e f g",
        "g f e d c b a",                 # same unigrams, no shared bigrams
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "edge",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    got = normalize(R.rouge_n(spark, sf).toPandas())
    want = normalize(R.rouge_n_relational(spark, sf).toPandas())
    assert got.shape == want.shape and len(got) == len(texts) // 2
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)


def test_round5_ops_on_empty_docs(spark, tmp_path_factory):
    """Empty document corpus must yield empty (not crashed) results for
    the round-5 curation/dedup additions."""
    from bigdataanalytics_textsummarization_spark.extensions.curation import (
        domain_caps,
    )
    from bigdataanalytics_textsummarization_spark.extensions.dedup import (
        benchmark_decontam,
    )
    from bigdataanalytics_textsummarization_spark.extensions.multimodal import (
        multimodal_decode,
    )
    from tests.conftest import write_docs

    d = write_docs(tmp_path_factory, "r5_empty", [])
    assert benchmark_decontam(spark, d).count() == 0
    assert domain_caps(spark, d).count() == 0
    assert multimodal_decode(spark, d).count() == 0


def test_decontam_all_bench_or_all_train(spark, tmp_path_factory):
    """A corpus where every doc is benchmark (or none is) has no train x
    bench pairs — empty output, no crash."""
    from bigdataanalytics_textsummarization_spark.extensions.dedup import (
        DECON_MOD,
        benchmark_decontam,
    )
    from tests.conftest import write_docs
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    # doc_ids all multiples of DECON_MOD -> all benchmark, train empty
    d = tmp_path_factory.mktemp("r5_allbench")
    docs = pd.DataFrame(
        {
            "doc_id": pd.array(
                [i * DECON_MOD for i in range(4)], dtype="int64"
            ),
            "text": ["alpha beta gamma delta epsilon zeta"] * 4,
            "lang": ["en"] * 4,
            "source": ["s1"] * 4,
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        str(d / "documents.parquet"),
    )
    assert benchmark_decontam(spark, str(d)).count() == 0


def test_embedding_pca_single_vector(spark, tmp_path_factory):
    """One-vector store: covariance is all zeros, PCA must still return
    k coords per vector (all zero after centering), not crash."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdataanalytics_textsummarization_spark.extensions.similarity import (
        embedding_cov,
        embedding_pca,
    )

    d = tmp_path_factory.mktemp("r5_onevec")
    emb = pd.DataFrame(
        {
            "vec_id": pd.array([0], dtype="int64"),
            "embedding": [[1.0, 2.0, 3.0, 4.0]],
            "label": pd.array([0], dtype="int32"),
        }
    )
    pq.write_table(
        pa.Table.from_pandas(emb, preserve_index=False),
        str(d / "embeddings.parquet"),
    )
    cov = embedding_cov(spark, str(d)).toPandas()
    assert (cov["cov"].abs() < 1e-12).all()
    pca = embedding_pca(spark, str(d)).toPandas()
    assert len(pca) > 0
    assert (pca["coord"].abs() < 1e-9).all()


def test_leafed_query_paths_on_empty_corpus(spark, tmp_path):
    """The r8 leaf/session_memo paths (edges_raw -> ranks, term_stats'
    leafed diamond) must survive a corpus whose tokenize output is EMPTY
    — a leaf is then a checkpoint of an empty RDD, and every downstream
    join/window must yield empty, not crash.  The *_from tests above
    bypass leaf(); this drives the real (spark, sf_dir) entry points on
    a degenerate on-disk corpus."""
    from bigdataanalytics_textsummarization_spark.functions import release_pins
    from bigdataanalytics_textsummarization_spark.graph import similarity_edges

    # texts too short for ANY tokenizer band (one word, no '.'), so
    # sentences exist but token streams are empty
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "en", "word") for i in range(6)],
        "doc_id long, source string, lang string, text string",
    )
    sf = str(tmp_path / "sfdegenerate")
    docs.write.parquet(f"{sf}/documents.parquet")
    release_pins()
    try:
        assert similarity_edges(spark, sf).count() == 0
        assert pagerank.textrank_ranks(spark, sf).count() == 0
        assert pagerank.textrank_top5(spark, sf).count() == 0
        assert text.term_stats(spark, sf).count() == 0
        assert text.top_keywords(spark, sf).count() == 0
    finally:
        release_pins()


def test_bleu_hand_computed_semantics(spark, tmp_path):
    """BLEU pins on a hand-computable fixture: an identical pair scores
    exactly 1.0 (all precisions 1, BP 1); a known partial-overlap pair
    matches the closed form; an empty candidate and a no-overlap pair
    score 0.0; and the corpus row's components are the column sums of
    the pair rows (micro-average, not a mean of pair scores)."""
    import math

    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    texts = [
        # pair 0: identical 6-token texts -> bleu_smooth exactly 1.0
        "the quick brown fox jumps high",
        "the quick brown fox jumps high",
        # pair 1: candidate shares a 4-token prefix with the reference
        "the quick brown fox sleeps now",
        "the quick brown fox jumps high",
        # pair 2: empty candidate -> 0.0
        "",
        "anything at all",
        # pair 3: zero unigram overlap -> 0.0
        "alpha beta gamma",
        "delta epsilon zeta",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "bleu",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = R.bleu_pairs(spark, sf).toPandas().set_index("pair_id")
    assert out.loc[0, "bleu_smooth"] == 1.0
    # pair 1 by hand: 6 tokens, m1=4 ("the quick brown fox"), m2=3,
    # m3=2, m4=1; t_n = 7-n; smoothing on n>=2; equal lengths -> BP=1
    assert [out.loc[1, f"m{n}"] for n in (1, 2, 3, 4)] == [4, 3, 2, 1]
    assert [out.loc[1, f"t{n}"] for n in (1, 2, 3, 4)] == [6, 5, 4, 3]
    want = math.exp(
        0.25
        * (
            math.log(4 / 6)
            + math.log((3 + 1) / (5 + 1))
            + math.log((2 + 1) / (4 + 1))
            + math.log((1 + 1) / (3 + 1))
        )
    )
    assert out.loc[1, "bleu_smooth"] == round(want, 6)
    assert out.loc[2, "bleu_smooth"] == 0.0
    assert out.loc[3, "bleu_smooth"] == 0.0
    corpus = R.bleu_corpus(spark, sf).toPandas().iloc[0]
    assert corpus["n_pairs"] == 4
    for col in [f"m{n}" for n in (1, 2, 3, 4)] + [
        f"t{n}" for n in (1, 2, 3, 4)
    ] + ["r_len"]:
        assert corpus[col] == out[col].sum(), col
    # corpus lengths: c=15 < r=18 -> BP = exp(1 - 18/15)
    m = [corpus[f"m{n}"] for n in (1, 2, 3, 4)]
    t = [corpus[f"t{n}"] for n in (1, 2, 3, 4)]
    want_c = math.exp(1 - corpus["r_len"] / t[0]) * math.exp(
        0.25 * sum(math.log(mi / ti) for mi, ti in zip(m, t))
    )
    assert corpus["bleu"] == round(want_c, 6)


def test_chrf_hand_computed_semantics(spark, tmp_path):
    """chrF2 pins: identical pair scores exactly 1.0; a hand-computable
    short pair matches the closed form (cand 'ab' vs ref 'abc': chrP =
    (1+1)/6, chrR = (2/3+1/2)/6, chrF2 = 5PR/(4P+R) = 7/33); disjoint
    chars score 0.0; the corpus row is the macro mean of the rounded
    per-pair scores."""
    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    texts = [
        "same text here", "same text here",   # pair 0 -> 1.0
        "ab", "abc",                           # pair 1 -> 7/33
        "aaa", "bbb",                          # pair 2 -> 0.0
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "chrf",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = R.chrf_pairs(spark, sf).toPandas().set_index("pair_id")
    assert out.loc[0, "chrf2"] == 1.0
    assert out.loc[1, "chrf2"] == round(7 / 33, 6)
    assert out.loc[2, "chrf2"] == 0.0
    corpus = R.chrf_corpus(spark, sf).toPandas().iloc[0]
    assert corpus["n_pairs"] == 3
    assert corpus["avg_chrf2"] == (1000000 + round(7 / 33 * 1e6)) / 3e6


def test_wer_hand_computed_semantics(spark, tmp_path):
    """WER pins: identical pair -> 0 edits; two substitutions -> 2/6;
    empty candidate -> edits = ref length, wer = 1.0; one deletion ->
    1/3 against the 3-token reference."""
    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    texts = [
        "the quick brown fox", "the quick brown fox",      # pair 0
        "the quick brown fox sleeps now",
        "the quick brown fox jumps high",                  # pair 1: 2 subs
        "", "one two three",                               # pair 2: empty cand
        "a b c d", "a c d",                                # pair 3: 1 insertion vs ref
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "wer",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = R.wer_pairs(spark, sf).toPandas().set_index("pair_id")
    assert out.loc[0, "edits"] == 0 and out.loc[0, "wer"] == 0.0
    assert out.loc[1, "edits"] == 2 and out.loc[1, "wer"] == round(2 / 6, 6)
    assert out.loc[2, "edits"] == 3 and out.loc[2, "wer"] == 1.0
    assert out.loc[3, "edits"] == 1 and out.loc[3, "wer"] == round(1 / 3, 6)
    # corpus row: the micro-average Σedits/Σref_len (NOT the mean of the
    # per-pair rates — that would be (0 + 1/3 + 1 + 1/3)/4)
    corpus = R.wer_corpus(spark, sf).toPandas().iloc[0]
    assert corpus["n_pairs"] == 4
    assert corpus["n_cand"] == out["n_cand"].sum() == 14
    assert corpus["n_ref"] == out["n_ref"].sum() == 16
    assert corpus["edits"] == out["edits"].sum() == 6
    assert corpus["wer"] == 0.375
    # CER: same DP one unit down — recompute independently over the
    # [a-z0-9] char streams
    import re

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, x in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, y in enumerate(b, 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (0 if x == y else 1),
                )
            prev = cur
        return prev[-1]

    ctok = re.compile(r"[a-z0-9]")
    cout = R.cer_pairs(spark, sf).toPandas().set_index("pair_id")
    tot_e = tot_r = tot_c = 0
    for pid in range(4):
        a = ctok.findall(texts[2 * pid].lower())
        b = ctok.findall(texts[2 * pid + 1].lower())
        e = lev(a, b)
        tot_e, tot_r, tot_c = tot_e + e, tot_r + len(b), tot_c + len(a)
        assert cout.loc[pid, "edits"] == e, pid
        assert cout.loc[pid, "n_cand"] == len(a) and cout.loc[pid, "n_ref"] == len(b)
        assert cout.loc[pid, "cer"] == (round(e / len(b), 6) if b else 0.0)
    ccorpus = R.cer_corpus(spark, sf).toPandas().iloc[0]
    assert ccorpus["n_pairs"] == 4
    assert ccorpus["n_cand"] == tot_c and ccorpus["n_ref"] == tot_r
    assert ccorpus["edits"] == tot_e
    assert ccorpus["cer"] == round(tot_e / tot_r, 6)


def test_summary_eval_machine_vs_machine(spark):
    """summary_eval scores the LSA summary against the TextRank top-5
    per source (the reference's pseudo-golden pattern, M4/M5).  The test
    recomputes every metric independently in plain Python from the two
    upstream query outputs — tokenization, clipped n-gram overlap,
    smoothed BLEU and word-Levenshtein are all re-derived here, not
    imported from the engine."""
    import math
    import re
    from collections import Counter

    from bigdataanalytics_textsummarization_spark import rouge as R
    from bigdataanalytics_textsummarization_spark.lsa import lsa_summary
    from bigdataanalytics_textsummarization_spark.pagerank import (
        textrank_top5,
    )

    from conftest import SF_DIR

    out = R.summary_eval(spark, SF_DIR).toPandas().set_index("source")
    cand_df = lsa_summary(spark, SF_DIR).toPandas()
    ref_df = textrank_top5(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert set(out.index) == set(cand_df["source"]) & set(ref_df["source"])

    tok = re.compile(r"[a-z0-9]+")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, x in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, y in enumerate(b, 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (0 if x == y else 1),
                )
            prev = cur
        return prev[-1]

    def grams(ws, n):
        return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]

    def clipped(a, b):
        cb = Counter(b)
        return sum(min(c, cb[g]) for g, c in Counter(a).items() if g in cb)

    for source, row in out.iterrows():
        c_rows = cand_df[cand_df["source"] == source]
        c_rows = c_rows.sort_values(["concept", "rk"])
        r_rows = ref_df[ref_df["source"] == source].sort_values("rk")
        assert row["n_cand_sents"] == len(c_rows)
        assert row["n_ref_sents"] == len(r_rows) <= 5
        cand_text = " ".join(c_rows["sentence"])
        ref_text = " ".join(r_rows["sentence"])
        a = tok.findall(cand_text.lower())
        b = tok.findall(ref_text.lower())
        # ROUGE-1/2 F
        for n, col in ((1, "rouge1_f"), (2, "rouge2_f")):
            ga, gb = grams(a, n), grams(b, n)
            m = clipped(ga, gb)
            p = m / len(ga) if ga else 0.0
            r = m / len(gb) if gb else 0.0
            f = 2 * p * r / (p + r) if (p + r) > 0 else 0.0
            assert row[col] == round(f, 6), (source, col)
        # smoothed sentence BLEU
        ms = [clipped(grams(a, n), grams(b, n)) for n in (1, 2, 3, 4)]
        ts = [len(grams(a, n)) for n in (1, 2, 3, 4)]
        if ts[0] == 0 or ms[0] == 0:
            want = 0.0
        else:
            lns = [math.log(ms[0] / ts[0])] + [
                math.log((ms[n] + 1) / (ts[n] + 1)) for n in (1, 2, 3)
            ]
            bp = 1.0 if ts[0] > len(b) else math.exp(1 - len(b) / ts[0])
            want = bp * math.exp(0.25 * sum(lns))
        assert row["bleu_smooth"] == round(want, 6), source
        # WER
        e = lev(a, b)
        assert row["edits"] == e, source
        assert row["wer"] == (round(e / len(b), 6) if b else 0.0), source


def test_gleu_hand_computed_semantics(spark, tmp_path):
    """GLEU pins: identical pair -> 1.0; the BLEU partial-overlap pair
    -> pooled 10/18 (both arms equal); empty candidate and disjoint
    pair -> 0.0; a long candidate against a short reference takes the
    PRECISION arm of the min (3/10, not recall's 3/3); the corpus row
    pools component sums (micro-average), not pair scores."""
    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    texts = [
        # pair 0: identical 6-token texts -> pooled 18/18 both arms
        "the quick brown fox jumps high",
        "the quick brown fox jumps high",
        # pair 1: 4-token shared prefix -> m=[4,3,2,1] pooled 10/18
        "the quick brown fox sleeps now",
        "the quick brown fox jumps high",
        # pair 2: empty candidate -> t_pool = 0 -> 0.0
        "",
        "anything at all",
        # pair 3: zero overlap -> m_pool = 0 -> 0.0
        "alpha beta gamma",
        "delta epsilon zeta",
        # pair 4: candidate longer than reference -> precision arm:
        # m_pool = 2 unigrams + 1 bigram = 3, t_pool = 10, rt_pool = 3
        "a b c d",
        "a b",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "gleu",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = R.gleu_pairs(spark, sf).toPandas().set_index("pair_id")
    assert out.loc[0, "gleu"] == 1.0
    assert (out.loc[1, "m_pool"], out.loc[1, "t_pool"]) == (10, 18)
    assert out.loc[1, "gleu"] == round(10 / 18, 6)
    assert out.loc[2, "gleu"] == 0.0 and out.loc[2, "t_pool"] == 0
    assert out.loc[3, "gleu"] == 0.0 and out.loc[3, "m_pool"] == 0
    assert (
        out.loc[4, "m_pool"],
        out.loc[4, "t_pool"],
        out.loc[4, "rt_pool"],
    ) == (3, 10, 3)
    assert out.loc[4, "gleu"] == round(3 / 10, 6)
    corpus = R.gleu_corpus(spark, sf).toPandas().iloc[0]
    assert corpus["n_pairs"] == 5
    for col in ("m_pool", "t_pool", "rt_pool"):
        assert corpus[col] == out[col].sum(), col
    want = min(
        corpus["m_pool"] / corpus["t_pool"],
        corpus["m_pool"] / corpus["rt_pool"],
    )
    assert corpus["gleu"] == round(want, 6)


def test_rouge_su4_hand_computed_semantics(spark, tmp_path):
    """ROUGE-SU4 pins: identical pair -> F 1.0; a 3-token anagram pair
    matches the hand count (units = 3 unigrams + 3 skip-bigrams, m = 5);
    the skip window EXCLUDES pairs more than 5 positions apart ('a ... g'
    at distance 6 contributes no bigram match); clipping uses min counts
    on repeated units; empty candidate -> all zeros."""
    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    texts = [
        "x y z", "x y z",          # pair 0: identical -> 1.0
        "a b c", "a c b",          # pair 1: m = 3 uni + {ab, ac} = 5 of 6
        "a b c d e f g", "a g",    # pair 2: dist(a,g)=6 > 5 -> no bigram
        "a a a", "a a",            # pair 3: clipped min(3,2)+min(3,1)=3
        "", "one two",             # pair 4: empty candidate
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "su4",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = R.rouge_su4(spark, sf).toPandas().set_index("pair_id")
    assert out.loc[0, "su4_f"] == 1.0
    assert (
        out.loc[1, "match_su4"],
        out.loc[1, "cand_units"],
        out.loc[1, "ref_units"],
    ) == (5, 6, 6)
    assert out.loc[1, "su4_f"] == round(5 / 6, 6)
    # pair 2: cand units = 7 unigrams + (5+5+4+3+2+1) skip-bigrams = 27;
    # ref units = 2 + 1; matches = the two unigrams only
    assert (
        out.loc[2, "match_su4"],
        out.loc[2, "cand_units"],
        out.loc[2, "ref_units"],
    ) == (2, 27, 3)
    p, r = 2 / 27, 2 / 3
    assert out.loc[2, "su4_p"] == round(p, 6)
    assert out.loc[2, "su4_r"] == round(r, 6)
    assert out.loc[2, "su4_f"] == round(2 * p * r / (p + r), 6)
    assert (
        out.loc[3, "match_su4"],
        out.loc[3, "cand_units"],
        out.loc[3, "ref_units"],
    ) == (3, 6, 3)
    assert out.loc[3, "su4_f"] == round(2 * 0.5 * 1.0 / 1.5, 6)
    assert (
        out.loc[4, "match_su4"],
        out.loc[4, "cand_units"],
        out.loc[4, "su4_f"],
    ) == (0, 0, 0.0)


def test_eval_report_composes_the_corpus_metrics(spark, tmp_path):
    """eval_report's one row must equal the corresponding columns of the
    individual certified corpus queries on the same fixture, and the
    ROUGE macro means must equal an independent micro-unit recompute
    from the per-pair rouge_n output."""
    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    texts = [
        "the quick brown fox jumps high",
        "the quick brown fox jumps high",
        "the quick brown fox sleeps now",
        "the quick brown fox jumps high",
        "alpha beta gamma",
        "delta epsilon zeta",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "report",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    rep = R.eval_report(spark, sf).toPandas().iloc[0]
    assert rep["n_pairs"] == 3
    assert rep["bleu"] == R.bleu_corpus(spark, sf).toPandas().iloc[0]["bleu"]
    assert rep["gleu"] == R.gleu_corpus(spark, sf).toPandas().iloc[0]["gleu"]
    assert (
        rep["avg_chrf2"]
        == R.chrf_corpus(spark, sf).toPandas().iloc[0]["avg_chrf2"]
    )
    assert rep["wer"] == R.wer_corpus(spark, sf).toPandas().iloc[0]["wer"]
    assert rep["cer"] == R.cer_corpus(spark, sf).toPandas().iloc[0]["cer"]
    per = R.rouge_n(spark, sf).toPandas()
    for col in ("rouge1_f", "rouge2_f"):
        micro = sum(round(v * 1e6) for v in per[col]) / (len(per) * 1e6)
        assert rep[f"avg_{col[:6]}_f"] == micro, col


def test_eval_sweep_groups_by_source(spark, tmp_path):
    """eval_sweep must micro-average WITHIN each source: two sources
    with different overlap profiles get different rows, and each row's
    metrics equal the corpus-level metrics computed on that source's
    pairs alone (verified by re-running the corpus queries on a
    single-source fixture)."""
    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    def fixture(rows, source):
        return [
            {
                "doc_id": None,  # filled below
                "text": t,
                "lang": "en",
                "source": source,
                "n_chars": len(t),
            }
            for t in rows
        ]

    a_texts = [
        "the quick brown fox jumps high",
        "the quick brown fox jumps high",
        "the quick brown fox sleeps now",
        "the quick brown fox jumps high",
    ]
    b_texts = [
        "alpha beta gamma",
        "delta epsilon zeta",
    ]
    rows = fixture(a_texts, "srcA") + fixture(b_texts, "srcB")
    for i, r in enumerate(rows):
        r["doc_id"] = i
    sf = str(tmp_path / "both")
    spark.createDataFrame(pd.DataFrame(rows)).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = (
        R.eval_sweep(spark, sf).toPandas().set_index("source").sort_index()
    )
    assert list(out.index) == ["srcA", "srcB"]
    assert out.loc["srcA", "n_pairs"] == 2
    assert out.loc["srcB", "n_pairs"] == 1
    # srcB: zero overlap everywhere -> all scores 0, wer/cer = 1.0
    assert out.loc["srcB", "bleu"] == 0.0
    assert out.loc["srcB", "gleu"] == 0.0
    assert out.loc["srcB", "wer"] == 1.0
    # srcA alone must equal the corpus metrics on an srcA-only fixture
    rows_a = fixture(a_texts, "srcA")
    for i, r in enumerate(rows_a):
        r["doc_id"] = i
    sfa = str(tmp_path / "onlya")
    spark.createDataFrame(pd.DataFrame(rows_a)).coalesce(1).write.parquet(
        f"{sfa}/documents.parquet"
    )
    assert (
        out.loc["srcA", "bleu"]
        == R.bleu_corpus(spark, sfa).toPandas().iloc[0]["bleu"]
    )
    assert (
        out.loc["srcA", "gleu"]
        == R.gleu_corpus(spark, sfa).toPandas().iloc[0]["gleu"]
    )
    assert (
        out.loc["srcA", "avg_chrf2"]
        == R.chrf_corpus(spark, sfa).toPandas().iloc[0]["avg_chrf2"]
    )
    assert (
        out.loc["srcA", "wer"]
        == R.wer_corpus(spark, sfa).toPandas().iloc[0]["wer"]
    )
    assert (
        out.loc["srcA", "cer"]
        == R.cer_corpus(spark, sfa).toPandas().iloc[0]["cer"]
    )


def test_self_bleu_hand_computed_semantics(spark, tmp_path):
    """Self-BLEU pins on a 4-doc ring: a doc whose text is duplicated in
    the corpus scores 1.0; a doc sharing nothing scores 0.0; multi-ref
    clipping takes the per-gram MAX across references (a repeated 'a'
    matches twice against the ref that repeats it); r_len is the
    SHORTEST reference; the corpus row is the macro mean of the rounded
    per-doc scores."""
    import math

    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    # ring: doc j's references are docs (j+1, j+2, j+3) % 4
    texts = ["a a b", "a a c", "b d", "e f"]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "sb",
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = R.self_bleu_docs(spark, sf).toPandas().set_index("doc_id")
    # doc 0 'a a b' vs refs 'a a c','b d','e f': m1 = min(2, max_a=2)
    # + min(1, max_b=1) = 3; m2 = 1 ('a a'); m3 = m4 = 0; r_len = 2
    assert [out.loc[0, f"m{n}"] for n in (1, 2, 3, 4)] == [3, 1, 0, 0]
    assert [out.loc[0, f"t{n}"] for n in (1, 2, 3, 4)] == [3, 2, 1, 0]
    assert out.loc[0, "r_len"] == 2
    want0 = math.exp(
        0.25
        * (
            math.log(3 / 3)
            + math.log((1 + 1) / (2 + 1))
            + math.log((0 + 1) / (1 + 1))
            + math.log((0 + 1) / (0 + 1))
        )
    )  # BP = 1 since t1 = 3 > r_len = 2
    assert out.loc[0, "self_bleu"] == round(want0, 6)
    # doc 3 'e f' vs refs 'a a b','a a c','b d': zero unigram overlap
    assert out.loc[3, "self_bleu"] == 0.0
    corpus = R.self_bleu_corpus(spark, sf).toPandas().iloc[0]
    assert corpus["n_docs"] == 4
    micro = sum(round(v * 1e6) for v in out["self_bleu"]) / (4 * 1e6)
    assert corpus["avg_self_bleu"] == micro


def test_wer_cer_round_half_up_on_exact_ties(spark, tmp_path):
    """Regression pin for the r17 sf0.1 catch: rates that land EXACTLY
    on a 6dp rounding tie (here 1/128 = 0.0078125) must round HALF-UP
    (the r6/oracle convention), not banker's — the in-kernel Python
    round() gave 0.007812 where the DuckDB oracle gives 0.007813.  The
    kernels now emit integers only and round Catalyst-side."""
    import pandas as pd

    from bigdataanalytics_textsummarization_spark import rouge as R

    ref = "a" * 128          # 128 [a-z0-9] chars, one 128-char token
    cand = "b" + "a" * 127   # exactly 1 char substitution
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [cand, ref],
            "lang": "en",
            "source": "tie",
            "n_chars": [len(cand), len(ref)],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    cer = R.cer_pairs(spark, sf).toPandas().iloc[0]
    assert cer["n_ref"] == 128 and cer["edits"] == 1
    assert cer["cer"] == 0.007813  # half-up, NOT banker's 0.007812
    wer = R.wer_pairs(spark, sf).toPandas().iloc[0]
    # word level: both sides are ONE token, substituted -> 1/1
    assert wer["edits"] == 1 and wer["wer"] == 1.0


def test_eval_scores_recompute_from_their_integer_surface(spark):
    """Every r17 metric must be EXACTLY the documented function of its
    own emitted integer components — recomputed here in plain Python
    (a third implementation besides the Catalyst expression and the
    DuckDB oracle) over the real sf0.001 corpus."""
    import math

    from bigdataanalytics_textsummarization_spark import rouge as R
    from tests.conftest import SF_DIR as sf

    # tolerance, not bit-equality: Python round() is banker's and the
    # engines round half-up, so an exact tie would legitimately differ
    # in the 6th decimal (the r17 cer_pairs catch)
    tol = 5.0e-7 * (1 + 1e-9)

    g = R.gleu_pairs(spark, sf).toPandas()
    assert len(g) > 0
    for _, r in g.iterrows():
        want = (
            0.0
            if r["t_pool"] == 0 or r["rt_pool"] == 0
            else min(
                r["m_pool"] / r["t_pool"], r["m_pool"] / r["rt_pool"]
            )
        )
        assert abs(r["gleu"] - want) <= tol

    s = R.rouge_su4(spark, sf).toPandas()
    for _, r in s.iterrows():
        p = r["match_su4"] / r["cand_units"] if r["cand_units"] else 0.0
        rr = r["match_su4"] / r["ref_units"] if r["ref_units"] else 0.0
        f = 2 * p * rr / (p + rr) if (p + rr) > 0 else 0.0
        assert abs(r["su4_p"] - p) <= tol
        assert abs(r["su4_r"] - rr) <= tol
        assert abs(r["su4_f"] - f) <= tol

    b = R.self_bleu_docs(spark, sf).toPandas()
    for _, r in b.iterrows():
        if r["t1"] == 0 or r["m1"] == 0:
            want = 0.0
        else:
            lns = [math.log(r["m1"] / r["t1"])] + [
                math.log((r[f"m{n}"] + 1) / (r[f"t{n}"] + 1))
                for n in (2, 3, 4)
            ]
            bp = (
                1.0
                if r["t1"] > r["r_len"]
                else math.exp(1.0 - r["r_len"] / r["t1"])
            )
            want = bp * math.exp(0.25 * sum(lns))
        assert abs(r["self_bleu"] - want) <= tol
        assert 0.0 <= r["self_bleu"] <= 1.0

    w = R.wer_ingest(spark, sf).toPandas()
    for _, r in w.iterrows():
        want = r["edits"] / r["n_ref"] if r["n_ref"] else 0.0
        assert abs(r["wer"] - want) <= tol
        assert bool(r["keep"]) == (
            r["edits"] * R.WER_KEEP_DEN <= r["n_ref"] * R.WER_KEEP_NUM
        )
