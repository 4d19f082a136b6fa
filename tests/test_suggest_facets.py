"""Term suggester (did-you-mean) and time-bucket facets: tier parity
and the pinned rankings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

EPOCH = 1_767_225_600


@pytest.fixture(scope="module")
def sf_index(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    tx = small_transcripts.withColumn(
        "ts", F.timestamp_seconds(
            F.lit(EPOCH) + 3600 * F.pmod(F.crc32("conv_id"), F.lit(30))))
    root = str(tmp_path_factory.mktemp("sf_idx") / "idx")
    build_index(spark, tx, root, n_shards=4)
    return root


def test_suggest_tier_parity_and_ranking(spark, sf_index):
    from geospatial_spark.operators.expand import levenshtein_py
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    ss = IndexSearcher(spark, sf_index)
    ls = LocalSearcher(sf_index)
    for q, me in [("spork", 1), ("spork", 2), ("deplyo", 2)]:
        a = ss.suggest(q, 5, me)
        b = ls.suggest(q, 5, me)
        assert a == b, (q, me)
        for t, df, d in a:
            assert t != q and d <= me and d == levenshtein_py(t, q)
            assert df >= 1
        # distance-first, then df desc, then term asc
        keys = [(d, -df, t) for t, df, d in a]
        assert keys == sorted(keys)
    # no candidates in band → empty, not an error
    assert ss.suggest("zzzzzzzzzzzz", 5, 1) == []
    assert ls.suggest("zzzzzzzzzzzz", 5, 1) == []


def test_facet_hour_tier_parity(spark, sf_index):
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    ss = IndexSearcher(spark, sf_index)
    sd = IndexSearcher(spark, sf_index)
    sd.LOCAL_SEARCH_MAX_K = -1  # instance override: force the Spark path
    ls = LocalSearcher(sf_index)
    a = ss.facet_counts("the spark", field="ts_hour")
    b = ls.facet_counts("the spark", field="ts_hour")
    assert a and a == b
    assert a == sd.facet_counts("the spark", field="ts_hour")
    assert sum(a.values()) == len(ss.search("the spark", ss.n_docs))
    for bucket in a:
        assert len(bucket) == len("2026-01-01T00") and "T" in bucket
    # day buckets roll the same totals up
    d = ss.facet_counts("the spark", field="ts_day")
    assert sum(d.values()) == sum(a.values())
    assert d == ls.facet_counts("the spark", field="ts_day")
    assert d == sd.facet_counts("the spark", field="ts_day")
    with pytest.raises(ValueError):
        ss.facet_counts("the spark", field="nope")


def test_complete_tier_parity(spark, sf_index):
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    ss = IndexSearcher(spark, sf_index)
    ls = LocalSearcher(sf_index)
    a = ss.complete("sp", 10)
    b = ls.complete("sp", 10)
    assert a and a == b
    assert all(t.startswith("sp") and df >= 1 for t, df in a)
    dfs = [df for _, df in a]
    assert dfs == sorted(dfs, reverse=True)
    assert ss.complete("", 10) == [] and ls.complete("", 10) == []
    assert ss.complete("zzz", 10) == [] and ls.complete("zzz", 10) == []


def test_daemon_suggest(sf_index):
    from geospatial_spark.plans.daemon import IndexService
    from geospatial_spark.plans.serve import LocalSearcher

    svc = IndexService(sf_index, request_cache_size=4)
    ls = LocalSearcher(sf_index)
    rows = svc.handle({"type": "suggest", "q": "spork", "max_edits": 2})
    assert [tuple(r) for r in rows] == ls.suggest("spork", 5, 2)
