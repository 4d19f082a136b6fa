"""Field-collapse gates (OpenSearch `collapse` analogue): best hit per
docmap role value under the rounded-ordering contract — Spark path ≡
serving path ≡ daemon dispatch ≡ brute-force reference."""

from __future__ import annotations

import math

import pytest

from geospatial_spark.functions.oracle_sql import ORDER_DP
from geospatial_spark.functions.tokenize import tokenize_py


@pytest.fixture(scope="module")
def built_index(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    root = str(tmp_path_factory.mktemp("collidx") / "idx")
    build_index(spark, small_transcripts, root, n_shards=4, hot_df_copy=32)
    return root


@pytest.fixture(scope="module")
def searcher(spark, built_index):
    from geospatial_spark.plans.query import IndexSearcher

    return IndexSearcher(spark, built_index)


@pytest.fixture(scope="module")
def dist(spark, built_index):
    """The same index with the small-k local dispatch switched off, so
    every call runs the distributed (Spark) plan."""
    from geospatial_spark.plans.query import IndexSearcher

    s = IndexSearcher(spark, built_index)
    s.LOCAL_SEARCH_MAX_K = -1  # instance override: force the Spark path
    return s


@pytest.fixture(scope="module")
def local(built_index):
    from geospatial_spark.plans.serve import LocalSearcher

    return LocalSearcher(built_index)


@pytest.fixture(scope="module")
def rows(small_transcripts_pd):
    return list(zip(small_transcripts_pd["conv_id"],
                    small_transcripts_pd["turn_idx"],
                    small_transcripts_pd["role"],
                    small_transcripts_pd["text"]))


def _ref_collapse(oracle, rows, should, k=10):
    from geospatial_spark.functions.bm25 import term_score

    terms = sorted(set(tokenize_py(should)))
    best: dict[str, tuple[float, str, float]] = {}
    for conv, turn, role, text in rows:
        toks = set(tokenize_py(text))
        present = [t for t in terms if t in toks]
        if not present or role is None:
            continue
        doc_id = f"{conv}:{turn}"
        score = sum(
            term_score(oracle.postings[t][doc_id], oracle.doclens[doc_id],
                       oracle.avgdl, len(oracle.postings[t]),
                       oracle.n_docs) for t in present)
        cand = (-round(score, ORDER_DP), doc_id, score)
        cur = best.get(role)
        if cur is None or cand[:2] < cur[:2]:
            best[role] = cand
    ranked = sorted((key[0], key[1], v, key[2]) for v, key in best.items())
    return [(v, d, raw) for _, d, v, raw in ranked[:k]]


QUERIES = ["the spark", "deploy", "the deploy merge spark"]


@pytest.mark.parametrize("should", QUERIES)
def test_collapse_matches_reference(searcher, small_oracle, rows, should):
    got = searcher.search_collapsed(should, k=10)
    want = _ref_collapse(small_oracle, rows, should, 10)
    assert [(v, d) for v, d, _ in got] == [(v, d) for v, d, _ in want]
    for (_, gd, gs), (_, _, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), gd


@pytest.mark.parametrize("should", QUERIES)
def test_collapse_serving_parity(searcher, local, dist, should):
    a = searcher.search_collapsed(should, k=10)
    for other in (local, dist):
        b = other.search_collapsed(should, k=10)
        assert [(v, d) for v, d, _ in a] == [(v, d) for v, d, _ in b]
        for (_, _, sa), (_, _, sb) in zip(a, b):
            assert math.isclose(sa, sb, rel_tol=1e-12)


def test_collapse_k_truncates(local):
    full = local.search_collapsed("the spark", k=10)
    assert len(full) >= 2  # corpus has several roles
    assert local.search_collapsed("the spark", k=1) == full[:1]


def test_collapse_values_unique(local):
    got = local.search_collapsed("the", k=10)
    vals = [v for v, _, _ in got]
    assert len(vals) == len(set(vals))


def test_collapse_no_match(searcher, local):
    assert searcher.search_collapsed("zzz-not-in-corpus") == []
    assert local.search_collapsed("zzz-not-in-corpus") == []


def test_collapse_daemon_dispatch(local):
    from geospatial_spark.plans.daemon import dispatch

    got = dispatch(local, {"type": "collapse", "should": "the spark",
                           "k": 5})
    want = local.search_collapsed("the spark", k=5)
    assert got == want


def test_collapse_with_filter_and_meta(searcher, local, dist):
    def same(a, b):
        return len(a) == len(b) and all(
            av == bv and ad == bd and math.isclose(asf, bsf, rel_tol=1e-12)
            for (av, ad, asf), (bv, bd, bsf) in zip(a, b))

    a = searcher.search_collapsed("the spark", "deploy", k=10)
    assert same(a, local.search_collapsed("the spark", "deploy", k=10))
    assert same(a, dist.search_collapsed("the spark", "deploy", k=10))
    m = {"role": ["assistant", "user"]}
    am = searcher.search_collapsed("the spark", meta=m, k=10)
    bm = local.search_collapsed("the spark", meta=m, k=10)
    assert [(v, d) for v, d, _ in am] == [(v, d) for v, d, _ in bm]
    assert all(v in ("assistant", "user") for v, _, _ in am)
    assert same(am, dist.search_collapsed("the spark", meta=m, k=10))
    # pure-NOT under a metadata mask: every shard runs, scores are 0.0
    pn = local.search_collapsed("", "", "spark", meta=m, k=10)
    assert pn and all(s == 0.0 for _, _, s in pn)
    assert same(pn, dist.search_collapsed("", "", "spark", meta=m, k=10))


def test_collapse_rounding_rule(spark):
    """The collapse reduce orders by Python's correctly rounded
    ``round``. 22.4223825 is stored just above the 6-dp half-way point:
    Python, DuckDB and Spark round it up to 22.422383, so it ties the
    higher score and wins on doc_id. ``np.round`` takes it down, which
    would pick d1 instead."""
    import duckdb
    import pyarrow as pa
    from pyspark.sql import functions as F

    from geospatial_spark.operators.boolquery import best_per_value

    x, hi = 22.4223825, 22.422383
    assert round(x, ORDER_DP) == hi
    assert duckdb.sql(
        f"SELECT round({x!r}::DOUBLE, {ORDER_DP})").fetchone()[0] == hi
    assert spark.range(1).select(
        F.round(F.lit(x), ORDER_DP)).first()[0] == hi
    got = best_per_value(pa.table({"collapse": ["user", "user"],
                                   "doc_id": ["d0", "d1"],
                                   "score": [x, hi]})).to_pydict()
    assert got == {"collapse": ["user"], "doc_id": ["d0"], "score": [x]}
