"""The two benchmark workloads: what a pass runs and how its output is
checked.

A workload turns a (seed, data dir) into inputs once, runs one *pass*
(the user-visible job) against a live session, and reduces the pass's
collected output to a digest that must not change between passes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import corpus
import layertrace


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) + 0.0 if math.isfinite(v) else str(v)
    return v


def digest(outputs: dict[str, list]) -> str:
    """sha256 over every output's rows, each row's floats rounded to six
    places and the rows sorted, so partition order does not matter."""
    h = hashlib.sha256()
    for name in sorted(outputs):
        rows = sorted(
            json.dumps([_norm(v) for v in row], default=str) for row in outputs[name]
        )
        h.update(name.encode())
        for r in rows:
            h.update(r.encode())
    return h.hexdigest()


class Workload:
    """Defaults for a workload without once-per-run checks or extra traced
    calls."""

    name = ""
    # once-per-run output checks made after the timed passes
    N_RUN_CHECKS = 0

    def run_checks(self, path: str, cold: dict[str, list] | None) -> list[str]:
        """Checks made once, outside the timed passes, on the cold pass's
        rows; one problem per failed check."""
        return []

    def trace_constructs(self, tr: layertrace.Tracer, path: str) -> None:
        pass


class ReviewsDeep(Workload):
    """Few products with many reviews each, in the reference's TSV format.
    A pass is the paper's job: both summarizers per product, scored
    against each other with stemmed ROUGE-1/2 (``review_rouge_sweep``)."""

    name = "reviews_deep"

    def prepare(self, data_dir: str, seed: int) -> int:
        path = os.path.join(data_dir, "reviews")
        return _cached(data_dir, lambda: corpus.write_reviews(path, seed))

    def input_path(self, data_dir: str) -> str:
        return os.path.join(data_dir, "reviews")

    def run_pass(self, spark, path: str) -> dict[str, list]:
        from bigdataanalytics_textsummarization_spark import reviews

        return {"review_rouge_sweep": reviews.review_rouge_sweep(spark, path).collect()}

    def check(self, outputs: dict[str, list]) -> list[str]:
        rows = outputs["review_rouge_sweep"]
        problems = []
        if len(rows) != corpus.REVIEWS_LAYOUT[0]:
            problems.append(f"review_rouge_sweep: {len(rows)} products")
        for r in rows:
            if not all(0.0 <= float(v) <= 1.0 for v in list(r)[1:]):
                problems.append(f"review_rouge_sweep: score out of [0, 1] in {r}")
        return problems

    def trace_chain(self, tr: layertrace.Tracer, path: str) -> dict[str, float]:
        return layertrace.reviews_chain(tr, path)

    def trace_constructs(self, tr: layertrace.Tracer, path: str) -> None:
        layertrace.review_constructs(tr, path)


class DocsSession(Workload):
    """A documents table queried back to back in one session by five
    registered queries, through parquet ``io.load_table`` and the
    session memo."""

    name = "docs_session"
    QUERIES = ("top_keywords", "term_stats", "textrank_top5", "lsa_summary", "rouge_n_stemmed")
    # queries whose oracle SQL reads the documents table; lsa_summary's
    # oracle is a fixed snapshot of another dataset, so it is checked by
    # digest only
    ORACLE_QUERIES = ("top_keywords", "term_stats", "textrank_top5", "rouge_n_stemmed")
    N_RUN_CHECKS = len(ORACLE_QUERIES)

    def prepare(self, data_dir: str, seed: int) -> int:
        return _cached(data_dir, lambda: corpus.write_documents(data_dir, seed))

    def input_path(self, data_dir: str) -> str:
        return data_dir

    def run_pass(self, spark, path: str) -> dict[str, list]:
        import __spark_entry__

        qs = __spark_entry__.queries()
        return {n: qs[n](spark, path).collect() for n in self.QUERIES}

    def check(self, outputs: dict[str, list]) -> list[str]:
        return [f"{n}: no rows" for n in self.QUERIES if not outputs[n]]

    def trace_chain(self, tr: layertrace.Tracer, path: str) -> dict[str, float]:
        return layertrace.docs_chain(tr, path)

    def run_checks(self, path: str, cold: dict[str, list] | None) -> list[str]:
        """Compare the cold pass's rows with ``oracle_sql()`` run by DuckDB
        on the generated parquet; one problem per query that differs."""
        if cold is None:
            return [f"{n}: the cold pass has no output" for n in self.ORACLE_QUERIES]
        return self._oracle_mismatches(cold, path)

    def _oracle_mismatches(self, outputs: dict[str, list], path: str) -> list[str]:
        import duckdb

        import __spark_entry__

        osql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(path, 'documents.parquet')}')"
            )
            bad = []
            for name in self.ORACLE_QUERIES:
                rel = con.sql(osql[name])
                want = _canonical(rel.columns, rel.fetchall())
                got_rows = outputs[name]
                cols = list(got_rows[0].__fields__) if got_rows else []
                got = _canonical(cols, [tuple(r) for r in got_rows])
                if not _same(got, want):
                    bad.append(f"{name}: differs from the DuckDB oracle")
            return bad
        finally:
            con.close()


def _canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: json.dumps([_norm(v) for v in r], default=str))


def _same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(float(x) - float(y)) > 1e-9:
                    return False
            elif str(x) != str(y):
                return False
    return True


def _cached(data_dir: str, write) -> int:
    """Run ``write`` once per data dir; returns its sentence count."""
    marker = os.path.join(data_dir, "SENTENCES")
    if os.path.isfile(marker):
        with open(marker) as fh:
            return int(fh.read())
    n = write()
    os.makedirs(data_dir, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write(str(n))
    return n


WORKLOADS = {w.name: w for w in (ReviewsDeep(), DocsSession())}
