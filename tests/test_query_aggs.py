"""Aggregations inside a query context: significant terms (relational)
and match-set stats (index path, per-shard partials) — invariants and
tier parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

EPOCH = 1_767_225_600


def test_significant_terms_invariants(spark, small_transcripts):
    from geospatial_spark.operators import postings as P

    tok = P.tokenized(small_transcripts)
    post = P.posting_tuples_from(tok)
    n, _ = P.corpus_stats(tok.select("doc_id", "dl"))
    m = P.posting_union(post, ["spark"])
    m_docs = m.count()
    rows = P.significant_terms(post, m, n, m_docs, size=10,
                               min_fg=3).collect()
    assert rows
    # "spark" itself is maximally significant: fg == its bg (every
    # match-set doc contains it), so lift == N/|M| — the max possible
    by_term = {r["term"]: r for r in rows}
    assert "spark" in by_term
    sp = by_term["spark"]
    assert sp["fg"] == sp["bg"] == m_docs
    for r in rows:
        assert r["fg"] >= 3 and r["fg"] <= r["bg"] <= n
        assert r["fg"] <= m_docs
        assert r["lift"] <= sp["lift"] + 1e-12
    # ranked by ROUNDED lift desc (ties term-asc — the pinned order)
    keys = [(-round(r["lift"], 6), r["term"]) for r in rows]
    assert keys == sorted(keys)


@pytest.fixture(scope="module")
def stats_index(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    tx = small_transcripts.withColumn(
        "ts", F.timestamp_seconds(
            F.lit(EPOCH) + 60 * F.pmod(F.crc32("conv_id"), F.lit(5000))))
    root = str(tmp_path_factory.mktemp("stats_idx") / "idx")
    build_index(spark, tx, root, n_shards=4)
    return root


def test_match_stats_tier_parity(spark, stats_index, small_transcripts):
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    ss = IndexSearcher(spark, stats_index)
    sd = IndexSearcher(spark, stats_index)
    sd.LOCAL_SEARCH_MAX_K = -1  # instance override: force the Spark path
    ls = LocalSearcher(stats_index)
    for args in [("spark merge", "the", ""), ("", "spark", "merge"),
                 ("", "", "the")]:
        row = ss.match_stats_df(*args).first()
        got = {k: row[k] for k in ("n_matched", "sum_dl",
                                   "min_ts_us", "max_ts_us")}
        assert got == ls.match_stats(*args), args
        row = sd.match_stats_df(*args).first()
        assert got == {k: row[k] for k in got}, args
        # n_matched must equal the bool match-set size from search
        hits = ls.search_bool(args[0], args[1], args[2], ls.n_docs)
        assert got["n_matched"] == len(hits), args
        assert got["sum_dl"] > 0 and got["min_ts_us"] <= got["max_ts_us"]
    # metadata mask, with and without a scored clause
    for args in [("spark", "", ""), ("", "", "the")]:
        meta = {"role": "user"}
        want = ls.match_stats(*args, meta=meta)
        assert 0 < want["n_matched"] == len(
            ls.search_bool(*args, ls.n_docs, meta=meta)), args
        for srch in (ss, sd):
            row = srch.match_stats_df(*args, meta=meta).first()
            assert {k: row[k] for k in want} == want, args


def test_match_stats_empty_set_sum_is_null(spark, stats_index):
    """A structurally valid query with an EMPTY match set (should term
    negated by must_not): both tiers emit n_matched=0 and NULL sum_dl —
    the SQL sum() contract, not 0."""
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    ss = IndexSearcher(spark, stats_index)
    sd = IndexSearcher(spark, stats_index)
    sd.LOCAL_SEARCH_MAX_K = -1  # instance override: force the Spark path
    ls = LocalSearcher(stats_index)
    for srch in (ss, sd):
        row = srch.match_stats_df("spark", "", "spark").first()
        assert row["n_matched"] == 0 and row["sum_dl"] is None
        assert row["min_ts_us"] is None and row["max_ts_us"] is None
    got = ls.match_stats("spark", "", "spark")
    assert got["n_matched"] == 0 and got["sum_dl"] is None


def test_terms_with_meta_rejected(spark, stats_index):
    """terms= is a pre-tokenized rewrite entry point; combining it with
    a metadata filter must raise, never silently ignore the terms."""
    import pytest as _pytest

    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    ss = IndexSearcher(spark, stats_index)
    ls = LocalSearcher(stats_index)
    with _pytest.raises(ValueError, match="terms="):
        ss.search_df("", 5, meta={"role": ["user"]}, terms=["spark"])
    with _pytest.raises(ValueError, match="terms="):
        ls.search("", 5, meta={"role": ["user"]}, terms=["spark"])


def test_match_stats_empty_and_daemon(spark, stats_index):
    from geospatial_spark.plans.daemon import IndexService
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    ss = IndexSearcher(spark, stats_index)
    assert ss.match_stats_df("zzzznotaterm", "", "") is None
    ls = LocalSearcher(stats_index)
    assert ls.match_stats("zzzznotaterm")["n_matched"] == 0
    svc = IndexService(stats_index, request_cache_size=2)
    rows = svc.handle({"type": "match_stats", "should": "spark merge",
                       "filter": "the"})
    want = ls.match_stats("spark merge", "the", "")
    assert rows == [[want["n_matched"], want["sum_dl"],
                     want["min_ts_us"], want["max_ts_us"]]]
